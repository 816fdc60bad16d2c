"""Bindings: SURVEY §2 operators bound to the driver's testdata tables.

Each binding module exposes ``BINDINGS: list[tuple[name, fn, sql]]``
where ``fn(spark, sf_dir) -> DataFrame`` and ``sql`` is the DuckDB
oracle (or ``None`` for non-SQL-expressible operators -> rows-only
check). ``ALL_BINDINGS`` concatenates them in ``_MODULES`` order.
"""

from __future__ import annotations

from gapless_deribit_clickhouse_spark.bindings import (
    analytics_ops,
    core_ops,
    extra_ops,
    features_ops,
    mining_ops,
    olap_ops,
    series_ops,
    sketch_ops,
)

_MODULES = (
    core_ops,
    features_ops,
    analytics_ops,
    extra_ops,
    olap_ops,
    sketch_ops,
    series_ops,
    mining_ops,
)
ALL_BINDINGS = [b for _mod in _MODULES for b in _mod.BINDINGS]

_names = [n for n, _f, _s in ALL_BINDINGS]
assert len(_names) == len(set(_names)), "duplicate binding names"
