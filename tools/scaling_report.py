"""Summarize a scaling campaign jsonl (tools/scaling_campaign.py or the
older scaling_runs.sh) → per-core-count medians with spread, every
N→4N pairwise efficiency E = R_4N/(4·R_N), and a per-stage median-wall
breakdown so the stages that stop scaling localize. Prints markdown
ready for BENCH/BASELINE.md.

Usage: python tools/scaling_report.py results.jsonl
"""

from __future__ import annotations

import json
import statistics
import sys


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaling_results.jsonl"
    rows = [json.loads(l) for l in open(path) if l.strip()]
    by_cores: dict[int, list[dict]] = {}
    for r in rows:
        by_cores.setdefault(r["cores"], []).append(r["result"])

    meds: dict[int, float] = {}
    print("| cores | runs (wall sec) | median wall | median docs/sec |")
    print("|---|---|---|---|")
    for cores in sorted(by_cores):
        walls = [x["wall_sec"] for x in by_cores[cores]]
        rates = [x["docs_per_sec"] for x in by_cores[cores]]
        meds[cores] = statistics.median(rates)
        print(
            f"| {cores} | {', '.join(f'{w:.1f}' for w in walls)} | "
            f"{statistics.median(walls):.1f} | {meds[cores]:,.0f} |"
        )

    pairs = [(lo, lo * 4) for lo in sorted(meds) if lo * 4 in meds]
    if pairs:
        print("\n| N→4N cores | E = R_4N/(4·R_N) |")
        print("|---|---|")
        for lo, hi in pairs:
            print(f"| {lo}→{hi} | **{meds[hi] / (4 * meds[lo]):.3f}** |")

    # per-stage median walls + per-stage E for each N→4N pair
    stages = list(next(iter(by_cores.values()))[0].get("stages", {}))
    if stages:
        stage_med = {
            c: {
                s: statistics.median(
                    x["stages"][s]["wall_ms"] / 1000 for x in by_cores[c]
                    if not x["stages"][s].get("skipped")
                )
                for s in stages
            }
            for c in by_cores
        }
        hdr = " | ".join(f"{c} cores" for c in sorted(stage_med))
        print(f"\n| stage (median sec) | {hdr} |")
        print("|---" * (len(stage_med) + 1) + "|")
        for s in stages:
            cells = " | ".join(f"{stage_med[c][s]:.1f}" for c in sorted(stage_med))
            print(f"| {s} | {cells} |")
        for lo, hi in pairs:
            es = " | ".join(
                f"{s}: {stage_med[lo][s] / (4 * stage_med[hi][s]):.2f}"
                for s in stages
            )
            print(f"| per-stage E {lo}→{hi} | {es} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
