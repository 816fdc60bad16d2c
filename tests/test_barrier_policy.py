"""Barrier storage policy guard (r9 self-review finding #1).

Every ``localCheckpoint`` barrier in the repo must pass an explicit
``storageLevel`` (``core/barrier.py BARRIER_STORAGE``): Spark's
deserialized default re-samples block size with SizeEstimator
object-graph walks per appended element, which convoys at executor
thread counts (the r9 scale probe measured identical cells swinging
5s -> 86s, every executor futex-spinning in SizeEstimator.visitArray).
This static check makes the unsafe short spelling
``df.localCheckpoint(eager=...)`` fail CI instead of silently
reintroducing the convoy.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
SCANNED = [
    REPO / "gapless_deribit_clickhouse_spark",
    REPO / "tools",
    REPO / "__spark_entry__.py",
]


def _violations() -> list[str]:
    out: list[str] = []
    files: list[pathlib.Path] = []
    for root in SCANNED:
        # a stale entry would scan nothing and still pass
        assert root.exists(), f"SCANNED path does not exist: {root.relative_to(REPO)}"
        files.extend(root.rglob("*.py") if root.is_dir() else [root])
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                if not any(kw.arg == "storageLevel" for kw in node.keywords):
                    out.append(f"{path.relative_to(REPO)}:{node.lineno}")
    return out


def test_every_local_checkpoint_sets_storage_level():
    bad = _violations()
    assert not bad, (
        "localCheckpoint call(s) without an explicit storageLevel — "
        "the deserialized default convoys under executor concurrency "
        "(use core.barrier.BARRIER_STORAGE): " + ", ".join(bad)
    )
