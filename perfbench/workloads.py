"""The benchmark's workloads: a fixed query list per workload, the
fixture it reads, and the session-pinned state its set-up builds.

A *pass* runs the workload's query list once, one query at a time, from
one driver process (a closed loop with one client). The run's ``--seed``
fixes the query order within a pass and, for ``append_reread_sf01``, the
content of the appended batches; the fixture tables themselves are
always built with seed 42. Why each workload was chosen: README.md.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    fixture: str  # "base" (the sf0.1 tables) or "append" (a working copy)
    queries: tuple[str, ...]
    warmup: int  # untimed passes between the cold pass and the timed ones

    def query_hash(self) -> str:
        """Identifies the query list and fixture, to match runs of two
        commits."""
        text = "\n".join((self.fixture, *self.queries))
        return hashlib.sha256(text.encode()).hexdigest()[:16]


WORKLOADS = {
    w.name: w
    for w in (
        # Arrow and pandas Python nodes: the JVM-Python crossing dominates.
        Workload(
            "python_udf_sf01",
            "base",
            (
                "e_truncated_rerank", "e_ivf_topk", "e_pq_encode",
                "sim_cosine_topk", "w_ewma", "w_holt_trend", "w_rolling_mad",
                "f2_stop_detect",
            ),
            warmup=5,
        ),
        # Writes beside reads: each pass appends a batch to events and drops
        # the oldest, so the first read_table of events misses its memo.
        # s_session_window and s_stream_enrich are left out: they fail
        # their oracles on these inputs (README.md, "Defects found").
        Workload(
            "append_reread_sf01",
            "append",
            (
                "w1_modal_value", "w2_daily_dominant", "w3_lag_prev",
                "w5_rolling_days", "w7_centered_ma", "w8_gap_fill",
                "w_tumbling_hour", "g_funnel", "s_interval_pair_join",
                "s_dq_gate", "inc_agg_state",
            ),
            warmup=5,
        ),
    )
}
