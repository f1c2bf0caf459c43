"""Vectorized column functions (JVM-native where possible, Arrow-batched
pandas UDFs otherwise — never row-at-a-time Python, per the north rule)."""

from moonlink_spark.functions.zorder import compute_zorder_boundaries

__all__ = ["compute_zorder_boundaries"]
