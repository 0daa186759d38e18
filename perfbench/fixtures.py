"""Cached, verified benchmark inputs.

Two fixtures live under the cache directory (inside the checkout and
ignored by git), each built once and marked complete only after its row
counts check out:

- ``base``: the seed-42 tables of :mod:`datagen` at the base scale;
- ``append``: a template copy of ``base`` whose ``events.parquet`` is a
  directory of batch files written through ``sources.writers``. Each
  pass-running process works on a fresh copy of it
  (:class:`AppendTable`).

Building is not part of any timed phase. Run as a script, this module
builds the append template in its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import datagen

ROOT = Path(__file__).resolve().parent.parent
APPEND_BATCHES = 10
EVENT_DAYS = 30
EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_MARK = ".complete.json"


def row_counts(fixture: Path) -> dict[str, int]:
    """Rows per table, read from parquet footers (file or directory)."""
    out = {}
    for t in datagen.TABLES:
        p = fixture / f"{t}.parquet"
        files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
        out[t] = sum(pq.read_metadata(f).num_rows for f in files)
    return out


def _complete(d: Path) -> dict | None:
    try:
        return json.loads((d / _MARK).read_text())
    except (OSError, ValueError):
        return None


def _mark(d: Path, info: dict) -> None:
    (d / _MARK).write_text(json.dumps(info, indent=1, sort_keys=True))


def _fresh(d: Path) -> None:
    shutil.rmtree(d, ignore_errors=True)
    d.parent.mkdir(parents=True, exist_ok=True)


def ensure_base(cache: Path, sf: float) -> Path:
    d = cache / f"base_sf{sf:g}"
    if _complete(d) is None:
        _fresh(d)
        counts = datagen.write_fixture(str(d), sf)
        if row_counts(d) != counts:
            raise RuntimeError(f"{d}: row counts differ from the generator's")
        _mark(d, {"sf": sf, "seed": datagen.SEED, "rows": counts})
    return d


def ensure_append_template(cache: Path, base: Path) -> Path:
    d = cache / f"{base.name}_append"
    if _complete(d) is None:
        _fresh(d)
        subprocess.run(
            [sys.executable, __file__, str(base), str(d)],
            check=True, stdout=subprocess.DEVNULL,
        )
        got, want = row_counts(d), row_counts(base)
        if got != want:
            raise RuntimeError(f"{d}: rows {got} != base {want}")
        info = json.loads((d / "batches.json").read_text())
        _mark(d, {"rows": got, **info})
    return d


def _write_batch(spark, table, directory: Path) -> list[str]:
    """Append one batch (a pyarrow table of events) as one file; returns
    the names the write added to ``directory``."""
    from sdg_big_data_spark.sources import writers

    before = set(os.listdir(directory)) if directory.exists() else set()
    df = spark.createDataFrame(table.to_pandas(), schema=EVENT_SCHEMA)
    writers.write_parquet(df.coalesce(1), str(directory), mode="append")
    return sorted(
        f for f in set(os.listdir(directory)) - before if "_SUCCESS" not in f
    )


def build_append_template(base: Path, out: Path) -> None:
    """Copy ``base`` and rewrite events as APPEND_BATCHES time-ordered
    batch files, oldest first."""
    sys.path.insert(0, str(ROOT))
    from sdg_big_data_spark.session import get_spark

    out.mkdir(parents=True, exist_ok=True)
    for t in datagen.TABLES:
        if t != "events":
            shutil.copy2(base / f"{t}.parquet", out / f"{t}.parquet")
    events = pq.read_table(base / "events.parquet")
    n = events.num_rows
    spark = get_spark(app_name="perfbench-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    batches = []
    edges = np.linspace(0, n, APPEND_BATCHES + 1).astype(int)
    for lo, hi in zip(edges[:-1], edges[1:]):
        batches.append(
            _write_batch(spark, events.slice(lo, hi - lo), out / "events.parquet")
        )
    spark.stop()
    users = int(pq.read_table(base / "events.parquet", columns=["user_id"])
                .column(0).to_numpy().max()) + 1
    (out / "batches.json").write_text(json.dumps({
        "batches": batches, "batch_rows": int(n // APPEND_BATCHES),
        "next_event_id": n, "users": users,
    }))


class AppendTable:
    """A working copy of the append template. :meth:`step` appends one
    seeded batch through ``sources.writers`` and drops the oldest batch,
    so the table keeps its size while its content slides forward in
    time."""

    def __init__(self, template: Path, work: Path, seed: int):
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(template, work)
        self.dir = work / "events.parquet"
        info = json.loads((template / "batches.json").read_text())
        self.batches: list[list[str]] = info["batches"]
        self.rows = info["batch_rows"]
        self.users = info["users"]
        self.next_id = info["next_event_id"]
        self.days = EVENT_DAYS / len(self.batches)
        self.seed = seed
        self.appended = 0

    def step(self, spark) -> None:
        rng = np.random.default_rng([self.seed, self.appended])
        start = np.datetime64("2024-01-01") + np.timedelta64(
            int(round(self.days * (len(self.batches) + self.appended))), "D")
        batch = datagen.events_batch(
            rng, self.rows, self.users, self.next_id,
            start=str(start), n_days=max(1, int(round(self.days))))
        self.batches.append(_write_batch(spark, batch, self.dir))
        for f in self.batches.pop(0):
            os.remove(self.dir / f)
        self.next_id += self.rows
        self.appended += 1


if __name__ == "__main__":
    build_append_template(Path(sys.argv[1]), Path(sys.argv[2]))
