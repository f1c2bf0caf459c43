"""Process-global latency histograms + decision log — the observability
surface.

The reference exports OTEL histograms for its persistence stages
(``observability/iceberg_persistence.rs:59-86``: Overall / DataFiles /
FileIndices / DeletionVectors / TransactionCommit, ms buckets
[50,100,200,300,400,500], a subset of ours) through ``moonlink_service``'s
otel endpoint.
This module is that meter, Python-side: engine operations observe into
a process-global registry, and the REST server renders it as JSON under
``GET /metrics`` (``service/rest_server.py``) for any scraper.

Families (1:1 with the reference's five histograms, plus the planning
phase this engine times separately):

- ``snapshot_synchronization_latency`` — whole optimize() wall
- ``maintenance_plan_latency``         — candidate selection + binning
                                         + Z-order boundary sample
- ``sync_data_files_latency``          — compaction rewrite fan-out
- ``sync_file_indices_latency``        — index / DV-sidecar merge
- ``sync_deletion_vectors_latency``    — MERGE's DV build + publish
- ``transaction_commit_latency``       — every manifest commit
                                         (commit / commit_delta)

Registry semantics match an OTEL in-memory reader: cumulative counts
since process start, cheap enough to observe on every commit
(histogram update = one bucket increment under a lock), thread-safe
(the engine commits from bin-concurrency thread pools and the REST
server scrapes concurrently).  ``reset()`` exists for tests.

The decision log keeps the last 256 ``maintain()`` decision records —
the auditable trigger trail (``table_handler_state.rs:25-67``) a
scheduler or operator reads next to the latency view.
"""

from __future__ import annotations

import threading
from typing import Any

# Bucket upper bounds, 10 ms to 30 min, about three per decade (1-2-5),
# so a multi-second merge and a 70 s maintenance pass each land in a
# bucket of their own instead of ``+inf``; the reference's six
# 50-500 ms boundaries are all kept.
BOUNDARIES_MS = (10.0, 20.0, 50.0, 100.0, 200.0, 300.0, 400.0, 500.0,
                 1_000.0, 2_000.0, 5_000.0, 10_000.0, 20_000.0, 50_000.0,
                 100_000.0, 200_000.0, 500_000.0, 1_000_000.0, 1_800_000.0)

FAMILIES = (
    "snapshot_synchronization_latency",
    "maintenance_plan_latency",
    "sync_data_files_latency",
    "sync_file_indices_latency",
    "sync_deletion_vectors_latency",
    "transaction_commit_latency",
)

_DECISION_LOG_MAX = 256


class _Histogram:
    __slots__ = ("count", "sum_ms", "max_ms", "buckets")

    def __init__(self) -> None:
        self.count = 0
        self.sum_ms = 0.0
        self.max_ms = 0.0
        self.buckets = [0] * (len(BOUNDARIES_MS) + 1)  # +inf tail

    def observe(self, ms: float) -> None:
        self.count += 1
        self.sum_ms += ms
        if ms > self.max_ms:
            self.max_ms = ms
        for i, b in enumerate(BOUNDARIES_MS):
            if ms <= b:
                self.buckets[i] += 1
                return
        self.buckets[-1] += 1

    def to_dict(self) -> dict[str, Any]:
        les = [str(b) for b in BOUNDARIES_MS] + ["+inf"]
        return {"count": self.count,
                "sum_ms": round(self.sum_ms, 3),
                "max_ms": round(self.max_ms, 3),
                "buckets": dict(zip(les, self.buckets))}


_lock = threading.Lock()
_hists: dict[str, _Histogram] = {}
_decisions: list[dict] = []


def observe(family: str, ms: float) -> None:
    """Record one latency observation (milliseconds)."""
    with _lock:
        h = _hists.get(family)
        if h is None:
            h = _hists[family] = _Histogram()
        h.observe(float(ms))


def record_decision(record: dict) -> None:
    """Append a maintain() decision record (bounded ring)."""
    with _lock:
        _decisions.append(dict(record))
        if len(_decisions) > _DECISION_LOG_MAX:
            del _decisions[:len(_decisions) - _DECISION_LOG_MAX]


def snapshot() -> dict[str, Any]:
    """The scrape payload: every family (zeroed if never observed),
    boundary spec, and the decision log."""
    with _lock:
        lat = {f: (_hists[f].to_dict() if f in _hists
                   else _Histogram().to_dict()) for f in FAMILIES}
        # families observed outside the fixed set still render
        for f, h in _hists.items():
            if f not in lat:
                lat[f] = h.to_dict()
        return {"boundaries_ms": list(BOUNDARIES_MS),
                "latencies": lat,
                "maintain_decisions": list(_decisions)}


def reset() -> None:
    with _lock:
        _hists.clear()
        _decisions.clear()
