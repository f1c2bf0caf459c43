"""Process-global latency histograms + decision log (metrics.py) —
pure unit coverage; the e2e scrape path is
tests/test_rest_server.py::test_rest_metrics_scrape_after_maintenance."""

import threading

from moonlink_spark import metrics as mx


def setup_function(_fn):
    mx.reset()


def test_bucket_boundaries_inclusive_and_inf_tail():
    mx.observe("transaction_commit_latency", 50.0)   # == boundary -> le 50
    mx.observe("transaction_commit_latency", 50.001)
    mx.observe("transaction_commit_latency", 3_600_000.0)  # past 30 min
    h = mx.snapshot()["latencies"]["transaction_commit_latency"]
    assert h["count"] == 3
    assert h["buckets"]["50.0"] == 1
    assert h["buckets"]["100.0"] == 1
    assert h["buckets"]["+inf"] == 1
    assert h["max_ms"] == 3_600_000.0
    assert abs(h["sum_ms"] - 3_600_100.001) < 1e-6


def test_buckets_resolve_maintenance_passes():
    """The reference's 50-500 ms boundaries are kept, and a 70 s pass
    lands in a finite bucket."""
    assert {50.0, 100.0, 200.0, 300.0, 400.0, 500.0} <= set(
        mx.BOUNDARIES_MS)
    assert list(mx.BOUNDARIES_MS) == sorted(mx.BOUNDARIES_MS)
    assert mx.BOUNDARIES_MS[0] == 10.0 and mx.BOUNDARIES_MS[-1] == 1_800_000.0
    mx.observe("snapshot_synchronization_latency", 70_000.0)
    h = mx.snapshot()["latencies"]["snapshot_synchronization_latency"]
    assert h["buckets"]["100000.0"] == 1 and h["buckets"]["+inf"] == 0


def test_all_families_render_zeroed_and_unknown_families_kept():
    mx.observe("custom_family", 1.0)
    snap = mx.snapshot()
    for f in mx.FAMILIES:
        assert snap["latencies"][f]["count"] == 0
    assert snap["latencies"]["custom_family"]["count"] == 1


def test_decision_ring_bounded():
    for i in range(300):
        mx.record_decision({"i": i})
    d = mx.snapshot()["maintain_decisions"]
    assert len(d) == 256 and d[0]["i"] == 44 and d[-1]["i"] == 299


def test_thread_safety_counts_exact():
    def work():
        for _ in range(1000):
            mx.observe("snapshot_synchronization_latency", 50.0)
    ts = [threading.Thread(target=work) for _ in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    h = mx.snapshot()["latencies"]["snapshot_synchronization_latency"]
    assert h["count"] == 8000 and h["buckets"]["50.0"] == 8000
