"""Merge N burst-aware bench runs into the committed quiet artifact.

The committed BENCH_HEADLINE.json convention since r10 is the
per-entry MIN over several full burst-aware runs (each run already
re-times its own over-envelope suspects behind a re-quiet gate, so
the min is a quiet-parity estimate, not a lucky tail). Rounds 10-11
produced that merge with ad-hoc in-session snippets; ADVICE r11
flagged the resulting artifact/code drift (field names and the
calibration reference in the committed sidecar disagreed with the
bench.py at HEAD). This tool makes the merge reproducible: the exact
command that produced a committed artifact belongs in its
``min_of_runs.note``.

Usage:
    python tools/merge_bench_runs.py OUT_HEADLINE OUT_TELEMETRY \
        HEADLINE1:TELEMETRY1 HEADLINE2:TELEMETRY2 [...] [--note TEXT]

Merge semantics:
- ``queries``: per-entry min across runs (entries present in every
  run; an entry missing from some run is taken from the runs that
  have it, with a warning on stderr — registry drift mid-merge should
  be loud).
- ``value``: sum of the merged per-entry values.
- headline normalization fields (sidecar schema 2): the merged
  ``calibration_ratio`` is the MIN ratio across contributing runs
  (the quietest verified box state that contributed entries);
  ``value_normalized`` = value / that ratio, same definition
  bench.py applies to a single run. ``n_retimed`` is the SUM across
  runs — the total number of suspect re-times behind the merged
  minima.
- per-entry telemetry stamps + burst_hits rows: taken from the run
  that WON that entry (carries the winning execution's conditions).
- ``min_of_runs``: every run's total + conditions, so the merge is
  auditable without the loose files.
- every other telemetry section (envelope, stderr, ...) is taken
  from the LAST run (the freshest producer stamp).
"""

from __future__ import annotations

import json
import sys


def merge(pairs: list[tuple[dict, dict]], note: str) -> tuple[dict, dict]:
    names: list[str] = []
    for h, _ in pairs:
        for q in h["queries"]:
            if q not in names:
                names.append(q)

    queries: dict[str, float] = {}
    timings_4dp: dict[str, float] = {}
    winner: dict[str, int] = {}
    for q in names:
        runs_with = [(i, h["queries"][q]) for i, (h, _) in enumerate(pairs) if q in h["queries"]]
        if len(runs_with) < len(pairs):
            print(f"WARN: {q} present in only {len(runs_with)}/{len(pairs)} runs", file=sys.stderr)
        i, v = min(runs_with, key=lambda t: t[1])
        queries[q] = v
        winner[q] = i
        t4 = pairs[i][1].get("timings_4dp", {})
        timings_4dp[q] = t4.get(q, v)

    total = round(sum(queries.values()), 4)
    last_h, last_t = pairs[-1]

    ratios = [
        ((h.get("calibration_ratio") if h.get("calibration_ratio") is not None
          else (t.get("conditions", {}).get("calibration") or {}).get("ratio")))
        for h, t in pairs
    ]
    ratios = [r for r in ratios if r is not None]
    cal_ratio = min(ratios) if ratios else None
    n_retimed = sum(
        (t.get("conditions", {}).get("retime") or {}).get("n", 0) for _, t in pairs
    )

    headline = {
        "metric": last_h.get("metric", "headline_queries_total_runtime"),
        "value": total,
        "unit": "sec",
        "sf": last_h.get("sf"),
        "queries": queries,
    }
    if cal_ratio is not None:
        headline["calibration_ratio"] = cal_ratio
        headline["value_normalized"] = round(total / cal_ratio, 2)
    headline["n_retimed"] = n_retimed

    telemetry = dict(last_t)
    telemetry["timings_4dp"] = timings_4dp
    merged_stamps: dict[str, dict] = {}
    merged_bursts: dict[str, dict] = {}
    for q in names:
        _, t = pairs[winner[q]]
        if q in t.get("telemetry", {}):
            merged_stamps[q] = t["telemetry"][q]
        if q in (t.get("burst_hits") or {}):
            merged_bursts[q] = t["burst_hits"][q]
    telemetry["telemetry"] = merged_stamps
    telemetry["burst_hits"] = merged_bursts
    telemetry["min_of_runs"] = {
        "note": note,
        "runs": [
            {"total_sec": h.get("value"), "conditions": t.get("conditions", {})}
            for h, t in pairs
        ],
    }
    return headline, telemetry


def main(argv: list[str]) -> int:
    note = "per-entry min over burst-aware runs (tools/merge_bench_runs.py)"
    if "--note" in argv:
        i = argv.index("--note")
        note = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if len(argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    out_h, out_t = argv[1], argv[2]
    pairs = []
    for spec in argv[3:]:
        hp, tp = spec.split(":", 1)
        with open(hp) as f:
            h = json.load(f)
        with open(tp) as f:
            t = json.load(f)
        pairs.append((h, t))
    headline, telemetry = merge(pairs, note)
    with open(out_h, "w") as f:
        json.dump(headline, f, indent=1)
        f.write("\n")
    with open(out_t, "w") as f:
        json.dump(telemetry, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            {
                "merged_total": headline["value"],
                "value_normalized": headline.get("value_normalized"),
                "calibration_ratio": headline.get("calibration_ratio"),
                "n_entries": len(headline["queries"]),
                "n_runs": len(pairs),
                "n_retimed": headline["n_retimed"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
