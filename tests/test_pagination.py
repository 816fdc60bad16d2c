"""Pagination bindings: keyset page 2 must equal OFFSET page 2.

``scan_keyset`` (cursor predicate on (ts, event_id) + LIMIT) is the
scale-safe pagination shape; ``scan_page2`` (ORDER BY ... LIMIT 100
OFFSET 100) is the query-side shape whose cost grows with page depth.
Both must return the SAME page.

Also: the ingest side's paginated backfill (``collect_trades``)
rejects a page or batch size below 1 before it fetches or writes.
"""

from __future__ import annotations

import os

import pytest

from gapless_deribit_clickhouse_spark.bindings.core_ops import (
    scan_keyset,
    scan_page2,
)
from gapless_deribit_clickhouse_spark.sources.rest_collector import (
    SyntheticTradePages,
    collect_trades,
)

SF_DIR = "/root/testdata/sf0.001"


def _key(r):
    return (r["ts"], r["event_id"])


def test_keyset_page_equals_offset_page(spark):
    offset_rows = sorted(scan_page2(spark, SF_DIR).collect(), key=_key)
    keyset_rows = sorted(scan_keyset(spark, SF_DIR).collect(), key=_key)
    assert len(offset_rows) == 100
    assert [r.asDict() for r in keyset_rows] == [
        r.asDict() for r in offset_rows
    ]


def test_keyset_filter_reaches_scan(spark):
    # the standalone ts-bound conjunct must be eligible for pushdown:
    # the plan's parquet scan carries pushed filters on ts (the
    # OR-tuple alone would defeat row-group pruning)
    plan = scan_keyset(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # the time-range bounds always push; presence of any ts filter in
    # the scan node is the contract (exact broadcast-bound pushdown is
    # runtime/DPP-dependent, so assert the static range predicates)
    import re

    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(re.search(r"ts", ln) for ln in scan_lines)


def test_collect_trades_rejects_size_below_one(spark, tmp_path):
    t0 = 1_735_689_600_000
    for param in ("batch_rows", "page_size"):
        out = tmp_path / param
        with pytest.raises(ValueError, match=param):
            collect_trades(
                spark, SyntheticTradePages(), t0, t0 + 60_000, str(out),
                checkpoint_dir=str(tmp_path / "ckpt"), **{param: 0},
            )
        # nothing was staged: no batch_token=<tok>/ leaf
        assert not out.exists() or not os.listdir(out)
