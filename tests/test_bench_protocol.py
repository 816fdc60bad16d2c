"""Pins the bench output protocol (VERDICT r6 #1 / "What's wrong").

Two rounds of BENCH_r{N}.json landed ``parsed: null`` because the
final stdout line outgrew the driver's 2,000-char tail capture.  These
tests make the contract executable:

1. the final line stays compact NO MATTER how many queries the
   registry grows to (the r6 failure mode was exactly "the registry
   grew, the line grew with it");
2. the full per-query dict is recoverable from the sidecar;
3. a high-load run diverts to ``BENCH_HEADLINE.highload.json`` rather
   than clobbering a committed quiet-machine artifact (VERDICT r6
   "What's wrong #2").

No SparkSession needed — ``emit_headline`` is pure file+string logic.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import emit_headline  # noqa: E402


def _timings(n: int) -> dict[str, float]:
    return {f"very_long_query_name_number_{i:04d}": 1.2345 for i in range(n)}


def test_final_line_compact_at_any_registry_size(tmp_path):
    # 500 queries ≈ 3.7x the r6 registry; the r6 bug was the line
    # scaling with the registry — assert it no longer does
    for n in (10, 136, 500):
        line = emit_headline(_timings(n), 617.25, 0.1, {}, str(tmp_path))
        assert len(line) <= 400, f"{n} queries -> {len(line)}B line"
        parsed = json.loads(line)
        assert parsed["metric"] == "headline_queries_total_runtime"
        assert parsed["value"] == 617.25
        assert parsed["unit"] == "sec"
        assert parsed["sf"] == 0.1
        assert parsed["n_queries"] == n
        assert "queries" not in parsed  # the dict lives ONLY in the sidecar


def test_final_line_carries_normalized_total(tmp_path):
    """VERDICT r11 #1: with a calibration ratio in the conditions, the
    PARSED line itself carries value_normalized (= value / ratio),
    calibration_ratio, and n_retimed — cross-round comparison from the
    parsed lines alone, no telemetry archaeology. Without a ratio
    (wrong sf, registry drift) the normalized fields are absent, never
    fabricated, but n_retimed still lands."""
    conditions = {
        "calibration": {"ratio": 1.327},
        "retime": {"n": 18},
    }
    line = emit_headline(_timings(147), 140.36, 0.1, conditions, str(tmp_path))
    assert len(line) <= 400
    parsed = json.loads(line)
    assert parsed["calibration_ratio"] == 1.327
    assert parsed["value_normalized"] == round(140.36 / 1.327, 2)
    assert parsed["n_retimed"] == 18
    side = json.load(open(tmp_path / "BENCH_HEADLINE.json"))
    assert side["value_normalized"] == parsed["value_normalized"]
    assert side["calibration_ratio"] == 1.327
    assert side["n_retimed"] == 18

    bare = json.loads(
        emit_headline(_timings(3), 10.0, 0.01, {"calibration": {"ratio": None}}, str(tmp_path))
    )
    assert "value_normalized" not in bare
    assert "calibration_ratio" not in bare
    assert bare["n_retimed"] == 0


def test_line_survives_2000_char_tail_capture(tmp_path):
    """The driver keeps the last 2,000 chars of stdout; the line must
    parse even if ~1,800 chars of earlier output share the window."""
    line = emit_headline(_timings(500), 617.25, 0.1, {}, str(tmp_path))
    tail = ("x" * 1800 + "\n" + line)[-2000:]
    assert json.loads(tail.splitlines()[-1])["value"] == 617.25


def test_sidecar_carries_full_per_query_dict(tmp_path):
    timings = _timings(136)
    line = emit_headline(timings, 617.25, 0.1, {"load_avg_1m": 0.08}, str(tmp_path))
    side = json.load(open(tmp_path / "BENCH_HEADLINE.json"))
    assert set(side["queries"]) == set(timings)
    assert side["value"] == 617.25
    assert "warn" not in side  # quiet run: no high-load label
    assert json.loads(line)["detail"] == "BENCH_HEADLINE.json"


def test_high_load_diverts_instead_of_clobbering(tmp_path):
    quiet = emit_headline(_timings(3), 10.0, 0.1, {"load_avg_1m": 0.1}, str(tmp_path))
    committed = json.load(open(tmp_path / "BENCH_HEADLINE.json"))
    loaded = emit_headline(
        _timings(3), 99.0, 0.1, {"load_avg_1m": 4.87}, str(tmp_path)
    )
    # the committed quiet artifact is untouched ...
    assert json.load(open(tmp_path / "BENCH_HEADLINE.json")) == committed
    # ... and the loaded run landed, labeled, in the sibling
    side = json.load(open(tmp_path / "BENCH_HEADLINE.highload.json"))
    assert side["warn"] == "high_load:4.87"
    assert json.loads(loaded)["detail"] == "BENCH_HEADLINE.highload.json"
    assert json.loads(loaded)["warn"] == "high_load:4.87"
    assert json.loads(quiet)["detail"] == "BENCH_HEADLINE.json"


def test_high_load_first_run_writes_primary(tmp_path):
    """With no committed quiet artifact there is nothing to protect —
    a high-load run writes the primary path (the driver still gets a
    recoverable sidecar, exactly what rescued r6's number)."""
    line = emit_headline(_timings(3), 99.0, 0.1, {"load_avg_1m": 4.87}, str(tmp_path))
    assert json.loads(line)["detail"] == "BENCH_HEADLINE.json"
    assert (tmp_path / "BENCH_HEADLINE.json").exists()
    assert not (tmp_path / "BENCH_HEADLINE.highload.json").exists()


def test_quiet_gate_returns_immediately_below_threshold():
    """The gate must be a no-op on a quiet box (thresholds above any
    plausible load) and stamp both loads it saw at entry."""
    import time

    from bench import _wait_for_quiet

    t0 = time.monotonic()
    out = _wait_for_quiet(threshold=1e9, threshold_5m=1e9)
    assert time.monotonic() - t0 < 1.0
    assert out["quiet_gate_wait_sec"] < 1.0
    assert out["quiet_gate_load_at_entry"] >= 0.0
    assert out["quiet_gate_load5m_at_entry"] >= 0.0


def test_quiet_gate_wait_is_bounded():
    """A box that never quiets must not stall the bench: the wait is
    capped at max_wait (probed here with a sub-second cap)."""
    import time

    from bench import _wait_for_quiet

    t0 = time.monotonic()
    out = _wait_for_quiet(threshold=-1.0, threshold_5m=1e9, max_wait=0.3, poll=0.1)
    elapsed = time.monotonic() - t0
    assert elapsed < 2.0
    assert out["quiet_gate_wait_sec"] >= 0.3


def test_quiet_gate_5m_average_also_gates(capsys):
    """VERDICT r9 #2: a recovered 1m average must not open the gate
    while the 5m average still shows the load episode — the 5m path
    waits (bounded) even with the 1m threshold wide open, and the
    wait announces itself on stdout (ADVICE r9: stderr is already
    captured by gate time, so a silent 600 s wait looks hung)."""
    import time

    from bench import _wait_for_quiet

    t0 = time.monotonic()
    out = _wait_for_quiet(threshold=1e9, threshold_5m=-1.0, max_wait=0.3, poll=0.1)
    assert time.monotonic() - t0 < 2.0
    assert out["quiet_gate_wait_sec"] >= 0.3
    notice = capsys.readouterr().out
    assert "quiet_gate" in notice and "load_5m" in notice


def test_quiet_gate_stamps_wait_without_getloadavg(monkeypatch):
    """ADVICE r9: platforms without getloadavg must still get a
    stamped dict (consumers index quiet_gate_wait_sec directly)."""
    import os as _os

    import bench

    def boom():  # pragma: no cover - trivially exercised via monkeypatch
        raise OSError("no loadavg")

    monkeypatch.setattr(_os, "getloadavg", boom)
    out = bench._wait_for_quiet()
    assert out == {"quiet_gate_wait_sec": 0.0}


def test_calibration_stamp_ratio_math():
    """VERDICT r9 #1: the stamp must carry first/last totals plus the
    mean-over-reference ratio at the reference sf — and refuse to
    fabricate a ratio at any other sf or with a missing pass."""
    from bench import (
        CALIBRATION,
        CALIBRATION_REF_SEC,
        CALIBRATION_REF_SF,
        HEADLINE,
        _calibration_stamp,
    )

    # the pinned queries must stay timed headline entries (their plans
    # are the round-invariant yardstick)
    assert set(CALIBRATION) <= set(HEADLINE)

    s = _calibration_stamp(2.0, 4.0, CALIBRATION_REF_SF)
    assert s["first_sec"] == 2.0 and s["last_sec"] == 4.0
    assert s["reference_sec"] == CALIBRATION_REF_SEC
    assert s["ratio"] == round(3.0 / CALIBRATION_REF_SEC, 3)

    # wrong sf -> no ratio (reference measured at sf0.1 only)
    assert _calibration_stamp(2.0, 4.0, 0.01)["ratio"] is None
    # a pass that could not run (registry drift) -> no ratio, no crash
    none_stamp = _calibration_stamp(None, 4.0, CALIBRATION_REF_SF)
    assert none_stamp["ratio"] is None and none_stamp["first_sec"] is None


def test_calibrate_returns_none_on_registry_drift():
    """A renamed calibration query must yield None (meaningless
    ratio), not a partial total that silently skews normalization."""
    from bench import _calibrate

    out = _calibrate(spark=None, qs={"scan_topn": lambda *a: None}, sf_dir="x")
    assert out is None


def test_headline_names_registry_entries():
    """``run`` silently skips a ``HEADLINE`` name the registry lacks,
    so a deleted binding must leave none of bench.py's name lists."""
    from bench import CALIBRATION, EXCLUDE, HEADLINE

    from gapless_deribit_clickhouse_spark.bindings import ALL_BINDINGS

    names = {n for n, _f, _s in ALL_BINDINGS}
    for listed in (HEADLINE, EXCLUDE, CALIBRATION):
        assert set(listed) <= names, sorted(set(listed) - names)


def test_per_entry_stamp_merges_and_deconfounds():
    """r11 (VERDICT r10 #6 + ADVICE r10): every timed entry gets
    pre/post 1-min load stamps AND a de-confounded ``other_cores``
    stamp (whole-box busy jiffies minus the bench process tree's own
    jiffies) so a heavy query's own 32 threads don't read as a
    co-tenant burst."""
    from bench import _cpu_snap, _other_cores, _stamp_entry

    pre = _cpu_snap()
    post = _cpu_snap()
    tele = {"q": {"shuffle_read_mb": 1.0}}
    _stamp_entry(tele, "q", pre, post)
    _stamp_entry(tele, "fresh", pre, post)
    assert tele["q"]["load_1m"] >= 0.0
    assert tele["q"]["load_1m_pre"] >= 0.0
    assert tele["q"]["shuffle_read_mb"] == 1.0  # merged, not clobbered
    assert "load_1m" in tele["fresh"]
    # a zero-work window on this process: other never goes negative
    oc = _other_cores(pre, post)
    assert oc is None or oc >= 0.0


def test_other_cores_separates_bench_from_cotenant():
    """The de-confound math itself: 100 busy jiffies on the box, 80 of
    them ours, over 1 s at CLK_TCK=100 -> 0.2 non-bench cores; and the
    bench's own work alone stamps ~0 (clamped, never negative)."""
    import bench as b

    mk = lambda t, busy, tree: {"t": t, "busy": busy, "tree": tree}  # noqa: E731
    assert b._other_cores(mk(0.0, 0.0, 0.0), mk(1.0, 100.0, 80.0)) == round(
        20.0 / b._CLK_TCK, 2
    )
    assert b._other_cores(mk(0.0, 0.0, 0.0), mk(1.0, 100.0, 120.0)) == 0.0
    assert b._other_cores(mk(0.0, None, 0.0), mk(1.0, 100.0, 80.0)) is None


def test_burst_suspects_triggers():
    """r11 (VERDICT r10 #1): re-time on over-envelope (>1.5x the
    committed quiet time), on an over-bar co-tenant stamp only when
    the entry ALSO ran over its envelope, and on the stamp alone for
    entries with no envelope row (new bindings)."""
    from bench import _burst_suspects

    env = {"a": 1.0, "b": 1.0, "c": 1.0}
    tele = {
        "a": {"other_cores": 0.1},   # quiet but 2x envelope
        "b": {"other_cores": 9.0},   # burst stamp, time over envelope
        "c": {"other_cores": 9.0},   # burst stamp but time AT envelope
        "new": {"other_cores": 9.0}, # no envelope row -> stamp alone
    }
    out = _burst_suspects(
        {"a": 2.0, "b": 1.2, "c": 0.9, "new": 0.5}, tele, env
    )
    assert out == {"a": "envelope", "b": "stamp", "new": "stamp"}


def test_burst_suspects_box_ratio_rescales_envelope():
    """A quiet-but-slower box (calibration ratio > 1) must not flag
    healthy entries: the envelope bar scales by the ratio, clamped to
    [1, 2] so a garbage calibration can't disable the trigger."""
    from bench import _burst_suspects

    env = {"a": 1.0}
    quiet = {"a": {"other_cores": 0.1}}
    assert _burst_suspects({"a": 1.6}, quiet, env, 1.0) == {"a": "envelope"}
    assert _burst_suspects({"a": 1.6}, quiet, env, 1.3) == {}
    assert _burst_suspects({"a": 2.2}, quiet, env, 1.3) == {"a": "envelope"}
    # clamp: ratio 10 behaves as 2, a faster box (0.5) as 1
    assert _burst_suspects({"a": 3.1}, quiet, env, 10.0) == {"a": "envelope"}
    assert _burst_suspects({"a": 1.6}, quiet, env, 0.5) == {"a": "envelope"}
    # stamp guard uses the UNSCALED envelope (r11 live test: an
    # 8-core-stamped entry over its quiet envelope but under the
    # ratio-scaled 1.5x bar must still re-time)
    stamped = {"a": {"other_cores": 8.0}}
    assert _burst_suspects({"a": 1.6}, stamped, env, 1.3) == {"a": "stamp"}
    assert _burst_suspects({"a": 0.9}, stamped, env, 1.3) == {}


def test_quiet_confirm_bar_scales_with_duration():
    """VERDICT r11 #4: a non-improving re-time only counts as
    'quiet-confirmed' under a bar that scales with the entry's own
    duration — 0.25 non-bench cores below 1 s (one co-tenant core is a
    10-30% distortion there), the full 2.5-core trigger bar at 5 s and
    above, linear between. Monotone, continuous at both knees."""
    from bench import BURST_OTHER_CORES, QUIET_CONFIRM_SHORT, _quiet_confirm_bar

    assert _quiet_confirm_bar(0.2) == QUIET_CONFIRM_SHORT
    assert _quiet_confirm_bar(0.999) == QUIET_CONFIRM_SHORT
    assert _quiet_confirm_bar(1.0) == QUIET_CONFIRM_SHORT
    assert _quiet_confirm_bar(5.0) == BURST_OTHER_CORES
    assert _quiet_confirm_bar(60.0) == BURST_OTHER_CORES
    mid = _quiet_confirm_bar(3.0)
    assert QUIET_CONFIRM_SHORT < mid < BURST_OTHER_CORES
    assert mid == round((QUIET_CONFIRM_SHORT + BURST_OTHER_CORES) / 2, 3)
    # a 1.07-core re-time (the r11 enrich_with_spot case) no longer
    # "confirms quiet" for a ~1.4 s entry
    assert 1.07 > _quiet_confirm_bar(1.44)
    bars = [_quiet_confirm_bar(s / 10) for s in range(1, 80)]
    assert bars == sorted(bars)


def test_producer_stamp_fields():
    """ADVICE r11: every artifact stamps the producing commit, a
    sidecar schema version, and the pinned calibration reference so
    artifact-vs-code forensics are a dict lookup."""
    from bench import CALIBRATION_REF_SEC, _producer_stamp

    stamp = _producer_stamp()
    assert stamp["calibration_ref_sec"] == CALIBRATION_REF_SEC
    assert stamp["sidecar_schema"] == 2
    # in this checkout git is available: the stamp carries a short sha
    assert stamp["git_head"] is None or len(stamp["git_head"]) >= 7


def test_envelope_staleness_rule():
    """VERDICT r11 #7: an entry whose min comes from an old run that
    no recent run has come within 1.3x of is flagged stale; an old min
    that recent runs still approach is NOT; overrides are never
    stale (they carry their own evidence)."""
    from tools.make_envelope import build

    loaded = [
        ("old_run", {"a": 1.0, "b": 1.0, "c": 1.0, "d": 5.0}),
        ("recent_run", {"a": 1.5, "b": 1.2, "d": 4.0}),
    ]
    sec, src, stale = build(loaded, overrides={}, recent=1)
    # a: old min 1.0, recent best 1.5 > 1.3 -> stale
    # b: old min 1.0, recent best 1.2 <= 1.3 -> fresh
    # c: absent from recent runs -> cannot be judged, not flagged
    # d: min comes FROM the recent run -> fresh by construction
    assert stale == ["a"]
    assert sec == {"a": 1.0, "b": 1.0, "c": 1.0, "d": 4.0}
    assert src == {"a": "old_run", "b": "old_run", "c": "old_run", "d": "recent_run"}
    # an override clears the flag and stamps its provenance
    sec2, src2, stale2 = build(loaded, overrides={"a": 1.4}, recent=1)
    assert stale2 == [] and sec2["a"] == 1.4 and src2["a"] == "override"


def test_committed_envelope_regenerates_and_flags():
    """The committed ENVELOPE.json matches its own regeneration
    command (pure per-entry min + the single changed-work override —
    ADVICE r11 medium: no narrative overrides), and bench.py surfaces
    its stale list."""
    import bench
    from tools.make_envelope import _load_run, build

    specs = [
        "17b9416:BENCH_HEADLINE.json",
        "2ae0b71:BENCH_HEADLINE.json",
        "26791ab:BENCH_HEADLINE.json",
        "9fe27db:BENCH_HEADLINE.json",
        "8f1b39d:BENCH_HEADLINE.json",
        "bac652c:BENCH_HEADLINE.json",
    ]
    loaded = [(s, _load_run(s)) for s in specs]
    sec, src, stale = build(loaded, overrides={"egarch_loglik": 0.99}, recent=2)
    committed = json.load(
        open(os.path.join(os.path.dirname(__file__), "..", "ENVELOPE.json"))
    )
    assert committed["sec"] == sec
    assert committed["src"] == src
    assert committed["stale"] == stale
    # the r9-era narrative overrides are gone: pure mins stand
    assert committed["sec"]["coverage_by_underlying"] == 0.42
    assert committed["sec"]["enrich_with_spot"] == 0.75
    assert committed["src"]["egarch_loglik"] == "override"
    # the r11 cosine_topk stale flag cleared: the r12 merged run (a
    # recent spec) came within STALE_FACTOR of the r9-era min — the
    # staleness loop's first full cycle (flag -> re-verify -> clear)
    assert stale == []
    assert bench._envelope_stale() == stale


def test_envelope_ignored_at_other_sf(tmp_path):
    """ENVELOPE.json is sf-pinned: at any other scale factor the
    envelope trigger is disabled (empty dict), never misapplied."""
    from bench import _load_envelope

    env = _load_envelope(0.1)
    assert len(env) > 100 and all(v > 0 for v in env.values())
    assert _load_envelope(0.01) == {}
    assert _load_envelope(None) == {}


def test_merge_bench_runs_per_entry_min_and_provenance():
    """tools/merge_bench_runs.py: the committed min-of-N artifact is
    now produced by a committed tool (r10/r11 used ad-hoc snippets;
    ADVICE r11 flagged the resulting artifact/code drift). Per-entry
    MIN, winner's stamps, min-ratio normalization, summed n_retimed,
    full per-run provenance."""
    from tools.merge_bench_runs import merge

    h1 = {
        "metric": "headline_queries_total_runtime",
        "value": 3.0,
        "sf": 0.1,
        "queries": {"a": 1.0, "b": 2.0},
        "calibration_ratio": 1.4,
        "n_retimed": 3,
    }
    t1 = {
        "timings_4dp": {"a": 1.0001, "b": 2.0002},
        "telemetry": {"a": {"other_cores": 0.9}, "b": {"other_cores": 0.8}},
        "burst_hits": {"a": {"kept_sec": 1.0}},
        "conditions": {"calibration": {"ratio": 1.4}, "retime": {"n": 3}},
    }
    h2 = {
        "metric": "headline_queries_total_runtime",
        "value": 2.7,
        "sf": 0.1,
        "queries": {"a": 1.2, "b": 1.5},
        "calibration_ratio": 1.0,
        "n_retimed": 1,
    }
    t2 = {
        "timings_4dp": {"a": 1.2003, "b": 1.5004},
        "telemetry": {"a": {"other_cores": 0.1}, "b": {"other_cores": 0.0}},
        "burst_hits": {},
        "conditions": {"calibration": {"ratio": 1.0}, "retime": {"n": 1}},
        "streaming": {"x": 1},
    }
    headline, tele = merge([(h1, t1), (h2, t2)], note="test-merge")
    # per-entry min: a from run 1, b from run 2
    assert headline["queries"] == {"a": 1.0, "b": 1.5}
    assert headline["value"] == 2.5
    # min ratio across runs normalizes the merged total
    assert headline["calibration_ratio"] == 1.0
    assert headline["value_normalized"] == 2.5
    assert headline["n_retimed"] == 4
    # winner's stamps travel with the entry
    assert tele["telemetry"]["a"] == {"other_cores": 0.9}
    assert tele["telemetry"]["b"] == {"other_cores": 0.0}
    assert tele["burst_hits"] == {"a": {"kept_sec": 1.0}}
    assert tele["timings_4dp"] == {"a": 1.0001, "b": 1.5004}
    # provenance: every run's total + conditions, the note verbatim
    runs = tele["min_of_runs"]["runs"]
    assert [r["total_sec"] for r in runs] == [3.0, 2.7]
    assert tele["min_of_runs"]["note"] == "test-merge"
    # non-merged sections come from the LAST run
    assert tele["streaming"] == {"x": 1}
