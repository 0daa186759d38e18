#!/usr/bin/env python3
"""Pass-level benchmark of the sdg_big_data_spark engine.

    python3 perfbench/run.py --workload python_udf_sf01 --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One run sets up a session in three fresh
processes one after another -- two child processes that only set up and
stop, then this one -- and reports the median set-up time. This process
then builds (or reuses) the cached fixtures and runs one cold pass, the
workload's warm-up passes and timed passes for ``--seconds``.
Afterwards, untimed, every query of the workload is checked against its
DuckDB oracle. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1`` the
metrics are the per-layer ones of :mod:`layers` instead of the end-to-end
ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import procfs
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

BASE_SF = 0.1
DRIVER_MEM = "3g"
SETUP_SAMPLES = 3  # fresh processes per run that time the set-up


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="self-test scale: sf0.001 tables, one cold and one timed pass",
    )
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def configure_env(smoke: bool) -> dict:
    """Task slots and heap for every Spark process of the run. Refuses
    more task slots than processors."""
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    if not cpus.isdigit() or not 1 <= int(cpus) <= nproc:
        raise SystemExit(f"SPARK_GRAFT_CPUS={cpus} must be 1..nproc ({nproc})")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault(
        "SPARK_GRAFT_EXTRA_CONF", "spark.ui.showConsoleProgress=false"
    )
    # Keep every file the run writes inside the checkout: Spark's
    # shuffle and block files, the engine's package zip, JVM temp files
    # (and no JVM perf-data file, which would go to /tmp).
    tmp = cache_dir(smoke) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": int(cpus),
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def cache_dir(smoke: bool) -> Path:
    return ROOT / ".bench_build" / ("perfbench-smoke" if smoke else "perfbench")


def inputs(wl, smoke: bool, seed: int) -> tuple[str, object]:
    """The fixture directory the workload reads; for the append workload
    a fresh working table seeded with ``seed``."""
    import fixtures

    cache = cache_dir(smoke)
    base = fixtures.ensure_base(cache, 0.001 if smoke else BASE_SF)
    if wl.fixture == "append":
        template = fixtures.ensure_append_template(cache, base)
        work = cache / "append_work"
        return str(work), fixtures.AppendTable(template, work, seed)
    return str(base), None


def setup(name: str):
    """Import the engine and start the session. The kept workloads pin
    no session state, so this is the whole set-up. Returns (spark,
    timings)."""
    t = time.perf_counter()
    from sdg_big_data_spark.plans import catalog
    from sdg_big_data_spark.session import get_spark

    catalog._load_all()
    t_imp = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    t_end = time.perf_counter()
    return spark, {
        "import_s": t_imp - t, "session_s": t_end - t_imp, "setup_s": t_end - t,
    }


def stop(spark) -> None:
    """Stop the session and wait until its JVM and the Python workers the
    JVM started have exited."""
    from pyspark import SparkContext

    spawned = [p for p in procfs.process_tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.monotonic() + 30
    while alive := [p for p in spawned if procfs.running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline += 30
        time.sleep(0.05)


def child_setup(args) -> dict:
    """One set-up measured in a fresh process (a fresh JVM)."""
    cmd = [sys.executable, __file__, "--workload", args.workload,
           "--setup-only"] + (["--smoke"] if args.smoke else [])
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


class PeakRss:
    """Peak RSS (VmHWM) per process of this process tree, summed."""

    def __init__(self):
        self.hwm: dict[int, float] = {}

    def sample(self) -> None:
        for pid in procfs.process_tree(os.getpid()):
            self.hwm[pid] = max(self.hwm.get(pid, 0.0),
                                procfs.status_mb(pid, "VmHWM"))

    def mb(self) -> float:
        return sum(self.hwm.values())


# -- passes ----------------------------------------------------------------

def hygiene(spark) -> None:
    """Release what a query cached, keeping session-pinned state (the
    between-query discipline of a resident session)."""
    from sdg_big_data_spark import cachescope

    cachescope.release_caches()
    cachescope.sweep_unpinned(spark)


def run_pass(spark, order, sf_dir, append, tracer=None) -> tuple[float, int]:
    """One pass over ``order``; returns (seconds, failed queries). A
    failing query stays inside the timed pass."""
    from sdg_big_data_spark.plans.catalog import REGISTRY

    failed = 0
    t = time.perf_counter()
    if append is not None:
        append.step(spark)
    for name in order:
        try:
            if tracer is None:
                df = REGISTRY[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            else:
                tracer.query(name, REGISTRY[name].fn, sf_dir)
        except Exception:  # noqa: BLE001 -- counted, reported, run goes on
            failed += 1
            log(f"query {name} failed:\n{traceback.format_exc(limit=3)}")
        hygiene(spark)
    return time.perf_counter() - t, failed


# -- oracle ----------------------------------------------------------------

def oracle_check(spark, names, sf_dir: str, out_dir: Path) -> list[str]:
    """Run each query once more and compare it with its DuckDB oracle on
    the same inputs (tools/oracle_at_scale.py comparator). Returns the
    names that raised or mismatched."""
    import duckdb

    from sdg_big_data_spark.plans.catalog import REGISTRY

    sys.path.insert(0, str(ROOT / "tools"))
    from oracle_at_scale import TABLES, canon_hash, close_check

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        pat = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    bad = []
    for name in names:
        out = out_dir / name
        try:
            sdf = REGISTRY[name].fn(spark, sf_dir)
            sdf.write.mode("overwrite").parquet(str(out))
            hygiene(spark)
            order = ", ".join(f'"{c}"' for c in sorted(sdf.columns))
            spark_src = f"SELECT {order} FROM read_parquet('{out}/*.parquet')"
            oracle = f"SELECT {order} FROM ({REGISTRY[name].sql}) o"
            ok = canon_hash(con, spark_src, "s") == canon_hash(con, oracle, "o")
            if not ok:
                ok = close_check(con, spark_src, REGISTRY[name].sql)[0]
        except Exception:  # noqa: BLE001 -- a raise is a failed check
            log(f"oracle check {name} raised:\n{traceback.format_exc(limit=3)}")
            ok = False
        if not ok:
            log(f"oracle mismatch: {name}")
            bad.append(name)
    con.close()
    return bad


# -- main ------------------------------------------------------------------

def versions(spark) -> dict:
    import pyspark

    return {
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("sdg_big_data_spark") is None:
        log("sdg_big_data_spark is not importable: run from a checkout of "
            "the repository")
        return 2
    wl = WORKLOADS[args.workload]
    meta = configure_env(args.smoke)
    order = list(wl.queries)
    random.Random(args.seed).shuffle(order)
    if args.setup_only:
        spark, times = setup(wl.name)
        stop(spark)
        print(json.dumps(times))
        return 0

    tmp = Path(os.environ["TMPDIR"])
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(exist_ok=True)
    # Every set-up sample is taken the same way: first thing in a fresh
    # process, before the inputs (numpy, pyarrow, the fixture copy).
    setups = [child_setup(args) for _ in range(SETUP_SAMPLES - 1)]
    spark, own = setup(wl.name)
    setups.append(own)
    sf_dir, append = inputs(wl, args.smoke, args.seed)
    meta.update(versions(spark), seed=args.seed, workload=wl.name,
                query_hash=wl.query_hash(), order=order, sf_dir=sf_dir,
                trace=args.trace)
    tracer = None
    if args.trace:
        import layers

        tracer = layers.Tracer(spark, own)
    rss = PeakRss()
    passes: list[dict] = []
    failed = attempted = 0

    def one(kind: str, traced: bool) -> float:
        nonlocal failed, attempted
        if traced:
            tracer.begin_pass(kind)
        secs, f = run_pass(spark, order, sf_dir, append,
                           tracer if traced else None)
        rss.sample()
        rec = {"kind": kind, "traced": traced, "s": secs, "failed": f}
        if traced:
            rec["layers"] = tracer.end_pass()
        elif tracer is not None:
            rec["jvm"] = tracer.jvm_delta()
        passes.append(rec)
        failed += f
        attempted += len(order)
        log(f"{wl.name} {kind} pass {len(passes)}: {secs:.3f} s")
        return secs

    cold = one("cold", tracer is not None)
    for _ in range(0 if args.smoke else wl.warmup):
        one("warmup", tracer is not None)
    # Traced runs alternate untraced and traced passes, so both sides see
    # the same drift; the ratio of their medians is the tracing overhead.
    kinds = [False, True] if tracer else [False]
    timed: dict[bool, list[float]] = {False: [], True: []}
    min_passes = 1 if args.smoke else 3
    t_end = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < t_end or min(
            len(timed[k]) for k in kinds) < min_passes:
        k = kinds[i % len(kinds)]
        timed[k].append(one("timed", k))
        i += 1

    out_dir = cache_dir(args.smoke) / "oracle_out"
    shutil.rmtree(out_dir, ignore_errors=True)
    bad = oracle_check(spark, wl.queries, sf_dir, out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    failed += len(bad)
    attempted += len(wl.queries)

    if tracer is None:
        metrics = {
            "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
            "cold_pass_s": (cold, "s"),
            "warm_pass_s": (statistics.median(timed[False]), "s"),
            "peak_rss_mb": (rss.mb(), "MB"),
        }
    else:
        metrics = tracer.metrics(passes, timed)
    record = {"meta": meta, "setups": setups, "passes": passes,
              "oracle_failed": bad, "failed": failed, "attempted": attempted}
    if tracer is not None:
        record["spans"] = tracer.span_records()
    stop(spark)
    runs = cache_dir(args.smoke) / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1))
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
