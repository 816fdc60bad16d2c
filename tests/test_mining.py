"""Planted-value tests for the mining tier: cooccurrence_stats
(association mining)."""

from __future__ import annotations

import pytest

from gapless_deribit_clickhouse_spark.operators.cooccurrence import (
    cooccurrence_stats,
)

def test_cooccurrence_counts_and_ratios(spark):
    # groups: u1 {x, y}, u2 {x, y}, u3 {x}, u4 {y, z}
    rows = [
        (1, "x"), (1, "y"), (1, "x"),  # duplicate event collapses
        (2, "x"), (2, "y"),
        (3, "x"),
        (4, "y"), (4, "z"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in cooccurrence_stats(ev, "user_id", "event_type").collect()
    }
    xy = got[("x", "y")]
    assert (xy["n_a"], xy["n_b"], xy["n_both"]) == (3, 3, 2)
    assert xy["jaccard"] == pytest.approx(2 / 4)
    assert xy["lift"] == pytest.approx(2 * 4 / (3 * 3))
    yz = got[("y", "z")]
    assert (yz["n_a"], yz["n_b"], yz["n_both"]) == (3, 1, 1)
    assert yz["lift"] == pytest.approx(1 * 4 / (3 * 1))
    assert ("x", "z") not in got  # never co-occur -> no row
