"""Floors-dominate proof for index_build scaling (r4 verdict #1): run the
index_build stage pair at SEVERAL corpus sizes back-to-back (1x = the
standard 650k-point scaling config, 2x = 1.85M, optionally 4x = 2.75M),
same session ordering, and compare per-build-stage N->4N efficiencies.
If the sub-0.6 efficiencies at 650k are fixed job
floors (scheduling, sampling passes, manifest/commit, per-job setup) and
not a scale defect, they must RISE as per-stage work grows to amortize
the floors — and keep rising monotonically with corpus size.
Logs to BENCH/floors2x.jsonl (NOT runs.jsonl — different
workload, must never merge into the stage-pair minima) and writes
BENCH/FLOORS_2X.md.

Usage: python tools/floors2x.py [reps] [scales]
  scales: comma list of tag:extra_points, default
  "1x:500000,2x:1700000" (total points = extra + 150k sf0.1 base).
  New legs continue rep numbering after the log's last rep so rows from
  different sessions never merge into one (rep, scale) pair.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pairstage import eff_cell, run_leg  # returncode-checked bench subprocess

LOG = os.path.join(ROOT, "BENCH", "floors2x.jsonl")
REPORT = os.path.join(ROOT, "BENCH", "FLOORS_2X.md")
SF = "/root/testdata/sf0.1"
BUILD_STAGES = ("covers", "keys", "pairs", "postings")


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--report-only"]
    reps = int(args[0]) if len(args) > 0 else 2
    scales_arg = args[1] if len(args) > 1 else "1x:500000,2x:1700000"
    scales = []
    for part in scales_arg.split(","):
        tag, extra = part.split(":")
        scales.append((int(extra), tag))
    legs = []
    if os.path.exists(LOG):
        with open(LOG) as f:
            legs = [json.loads(l) for l in f]
    base_rep = max((r["rep"] for r in legs), default=-1) + 1
    if "--report-only" not in sys.argv:
        for rep in range(base_rep, base_rep + reps):
            # interleave scales within a rep so both see the same window;
            # alternate leg order across reps (pairstage discipline)
            for extra, tag in scales:
                os.environ["SPARK_GRAFT_EXTRA_POINTS"] = str(extra)
                order = (2, 8) if rep % 2 == 0 else (8, 2)
                for cpus in order:
                    t0 = time.time()
                    sec, bs = run_leg(SF, cpus, "index_build")
                    rec = {
                        "tag": tag, "rep": rep, "cpus": cpus, "sec": sec,
                        "extra": extra, "build_stages": bs,
                        "leg_wall": round(time.time() - t0, 1),
                    }
                    legs.append(rec)
                    with open(LOG, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(json.dumps(rec), flush=True)

    lines = [
        "# BENCH/FLOORS_2X — does the index_build scaling gap amortize with corpus size?",
        "",
        "Same stage-paired method as BENCH/BASELINE_STAGE.md, but each rep runs",
        "the index_build pair at SEVERAL corpus sizes back-to-back (1x = the",
        "standard 650k-point scaling config; 2x = 1,850,000 points; 4x where",
        "present = 2,750,000). If the per-build-stage efficiencies rise with",
        "corpus size, the 1x gap is fixed job floors amortizing, not a",
        "parallelism defect in the plan.",
        "",
        "| rep | scale | total @2 | total @8 | eff | " + " | ".join(
            f"{s} eff" for s in BUILD_STAGES) + " |",
        "|---|---|---|---|---|" + "---|" * len(BUILD_STAGES),
    ]
    by = {}
    for r in legs:
        by.setdefault((r["rep"], r["tag"]), {})[r["cpus"]] = r
    for (rep, tag), d in sorted(by.items(), key=lambda kv: (kv[0][0], kv[0][1])):
        if 2 not in d or 8 not in d:
            continue
        lo, hi = d[2], d[8]
        cells = [
            str(rep), tag, f"{lo['sec']:.1f}", f"{hi['sec']:.1f}",
            eff_cell(lo['sec'], hi['sec']),
        ]
        for s in BUILD_STAGES:
            a, b = lo["build_stages"].get(s), hi["build_stages"].get(s)
            cells.append(eff_cell(a, b))
        lines.append("| " + " | ".join(cells) + " |")
    lines.append("")
    with open(REPORT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {REPORT}")


if __name__ == "__main__":
    main()
