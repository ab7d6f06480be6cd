"""Floors-dominate proof for the QUERY stages (the r5 analog of
tools/floors2x.py, which settled the same question for index builds).

The stage-paired campaign (BENCH/BASELINE_STAGE.md) shows the three
reference-shaped query stages pinned near 0.25 pair efficiency in every
host window: at 2,000 caps each stage is a handful of Spark jobs whose
scheduling/planning/collect floors (~2-5s) dwarf the parallel scan+join
work, so adding cores cannot help. BENCH/NOTES_r5.md asserts those floors
"vanish at real scale"; this tool MEASURES that claim instead: run the
same three query stages with the cap batch scaled 1x/4x/16x
(SPARK_GRAFT_BENCH_CAPS = 2,000 / 8,000 / 32,000) at local[2] vs
local[8], scales interleaved back-to-back inside each rep so every
ratio shares a host window. If the ~0.25 is a fixed floor amortizing —
not a parallelism defect in the query plan — efficiency must RISE
monotonically with batch size toward the same memory-bandwidth ceiling
the heavy stages sit at.

The committed indexes are reused untimed (the cap batch is query-side
only; bench.py's resume fingerprint keeps state validity independent of
this knob). Logs to BENCH/qfloors.jsonl (NEVER runs.jsonl — a scaled
query batch must not pollute the stage-pair minima) and writes
BENCH/QUERY_FLOORS.md.

Usage: python tools/qfloors.py [reps] [scales]
  scales: comma list of tag:n_caps, default "1x:2000,4x:8000,16x:32000".
  New legs continue rep numbering after the log's last rep.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pairstage import eff_cell

LOG = os.path.join(ROOT, "BENCH", "qfloors.jsonl")
REPORT = os.path.join(ROOT, "BENCH", "QUERY_FLOORS.md")
SF = "/root/testdata/sf0.1"
QUERY_STAGES = (
    "contains_2000_caps",
    "count_2000_caps",
    "region_contains_2000",
    # r5: batched polygon covering (rep >= 3 legs only; earlier reps show —)
    "contains_2000_polygons",
)


def run_query_leg(cpus: int, n_caps: int) -> dict[str, float]:
    """One bench.py subprocess timing the three query stages at the given
    cap-batch size. Returns the per-stage seconds dict. Raises with the
    bench stderr tail on failure (pairstage discipline)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_STAGES=",".join(QUERY_STAGES),
        SPARK_GRAFT_BENCH_CAPS=str(n_caps),
    )
    # identical scaling config to tools/pairstage.py so the committed
    # c2/c8 indexes from the stage-pair campaign are valid resume targets
    env.setdefault("SPARK_GRAFT_EXTRA_POINTS", "500000")
    env.setdefault("SPARK_GRAFT_BENCH_IMAGES", "600000")
    env.setdefault("SPARK_GRAFT_BENCH_REGIONS", "100000")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(
            f"qfloors leg failed (cpus={cpus} n_caps={n_caps} rc={out.returncode}):\n"
            + out.stderr[-2000:]
        )
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    return {s: rec["queries"][s] for s in QUERY_STAGES}


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--report-only"]
    reps = int(args[0]) if len(args) > 0 else 1
    scales_arg = args[1] if len(args) > 1 else "1x:2000,4x:8000,16x:32000"
    scales = []
    for part in scales_arg.split(","):
        tag, n = part.split(":")
        scales.append((tag, int(n)))

    legs = []
    if os.path.exists(LOG):
        with open(LOG) as f:
            legs = [json.loads(l) for l in f]
    base_rep = max((r["rep"] for r in legs), default=-1) + 1

    if "--report-only" not in sys.argv:
        for rep in range(base_rep, base_rep + reps):
            order = (2, 8) if rep % 2 == 0 else (8, 2)
            for tag, n_caps in scales:
                for cpus in order:
                    t0 = time.time()
                    stages = run_query_leg(cpus, n_caps)
                    rec = {
                        "tag": tag, "rep": rep, "cpus": cpus,
                        "n_caps": n_caps, "stages": stages,
                        "leg_wall": round(time.time() - t0, 1),
                    }
                    legs.append(rec)
                    with open(LOG, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(json.dumps(rec), flush=True)

    lines = [
        "# BENCH/QUERY_FLOORS — do the query-stage job floors amortize with batch size?",
        "",
        "Same stage-paired method as BENCH/BASELINE_STAGE.md, but the three",
        "reference-shaped query stages run with the cap batch scaled",
        "1x/4x/16x (2,000 / 8,000 / 32,000 caps) back-to-back inside each",
        "rep, local[2] vs local[8] legs adjacent. At 2,000 caps these stages",
        "sit near 0.25 pair efficiency in every window — a handful of Spark",
        "jobs whose fixed scheduling/planning floors dwarf the parallel",
        "scan+join work. If that 0.25 is the floor amortizing (not a",
        "parallelism defect in the query plan), efficiency must rise",
        "monotonically with batch size. The committed scaling-config indexes",
        "are reused untimed; only the query batch changes.",
        "",
        "**Rep 0 (pre-fix) FALSIFIED the amortize claim**: efficiency stayed",
        "flat at ~0.29 at every scale. Floors amortize, so a flat curve means",
        "a serial component proportional to batch size — the all-driver",
        "covering kernel in `plan_query_cells` (~0.46 ms/cap, flat in cores;",
        "14.9s serial at 32k caps). **Reps >= 1 run the post-fix planner**",
        "(`rgm/query.py:_covers_distributed`: one mapInPandas pass above",
        "DRIVER_COVER_ROWS=4096, so 8k/32k distribute, 2k stays driver-side):",
        "efficiency now rises monotonically with batch size and the 32k-cap",
        "local[8] wall dropped 60.9s -> 27.2s (rep 1). The residual ~0.23 at",
        "2k caps is the per-stage job floors, which this table shows",
        "amortizing exactly as BENCH/FLOORS_2X.md showed for index builds.",
        "",
        "| rep | scale | caps | total @2 | total @8 | eff | "
        + " | ".join(f"{s} eff" for s in QUERY_STAGES) + " |",
        "|---|---|---|---|---|---|" + "---|" * len(QUERY_STAGES),
    ]
    by: dict[tuple[int, str], dict[int, dict]] = {}
    for r in legs:
        by.setdefault((r["rep"], r["tag"]), {})[r["cpus"]] = r
    for (rep, tag), d in sorted(by.items(), key=lambda kv: (kv[0][0], kv[0][1])):
        if 2 not in d or 8 not in d:
            continue
        lo, hi = d[2], d[8]
        tlo = sum(lo["stages"].values())
        thi = sum(hi["stages"].values())
        cells = [
            str(rep), tag, str(lo["n_caps"]), f"{tlo:.1f}", f"{thi:.1f}",
            eff_cell(tlo, thi),
        ]
        for s in QUERY_STAGES:
            a, b = lo["stages"].get(s), hi["stages"].get(s)
            cells.append(eff_cell(a, b))
        lines.append("| " + " | ".join(cells) + " |")
    lines.append("")
    with open(REPORT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {REPORT}")


if __name__ == "__main__":
    main()
