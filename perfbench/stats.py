"""Ratio math shared by the workloads and the layer report; percentiles
and medians come from numpy."""

from __future__ import annotations


def ratio(num: float, base: float) -> float:
    """``num / base``, 0.0 when the base is 0 (a layer that did no work)."""
    return num / base if base else 0.0
