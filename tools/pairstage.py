"""Stage-interleaved scaling pairs: the tightest N-vs-4N evidence a
drifting shared VM permits.

tools/scaling.py pairs two FULL bench runs (~10 min apart end to end), so
host-capacity drift WITHIN a pair corrupts the ratio (observed: pair
efficiency 0.397 in a window whose own multiprocessing ceiling probed
0.918 — the window collapsed between the low and the high leg).
This tool instead pairs each STAGE: run stage S at local[n_low], then
immediately at local[n_high], then move to the next stage. The two legs
of every ratio are seconds-to-minutes apart instead of ~10 minutes, so
each per-stage efficiency is a same-window measurement by construction.

Mechanics: each leg is a bench.py subprocess with
``SPARK_GRAFT_STAGES=<stage>`` (bench runs ONLY that stage, reusing
committed index state from earlier legs at the same parallelism level —
state dirs are keyed by cpus, so levels never share state). Stage order
respects state dependencies (index builds first). Within a stage, leg
order alternates per rep (low-first on even reps, high-first on odd) so
page-cache warm-up bias is symmetric across reps.

Composites: for rep r, eff_r = (sum_S t2[S,r] / sum_S t8[S,r]) / 4 —
every stage contribution is same-window, unlike a full-run pair. The
minima composite uses per-level per-stage minima across reps.

Usage: python tools/pairstage.py [sf_dir] [n_low] [n_high] [reps] [stages_csv]
Logs every leg to BENCH/runs.jsonl ({"kind": "stagepair", ...}) and
writes BENCH/BASELINE_STAGE.md. PAIRSTAGE_MERGE=1 folds in prior legs
from runs.jsonl; --report-only regenerates the report without benching.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Dependency-ordered. The 10 headline stages (BENCH json "headline") plus
# images_neardup (in the heavy composite). Index builds lead: later query
# legs at the same level reuse their committed state untimed.
DEFAULT_STAGES = [
    "index_build",
    "region_index_build_50k",
    "contains_2000_caps",
    "count_2000_caps",
    "region_contains_2000",
    "tile_assign_s2",
    "tile_counts_s2",
    "images_synth",
    "images_fidelity",
    "images_features",
    "images_neardup",
]
HEADLINE = DEFAULT_STAGES[:10]
HEAVY = [
    "index_build", "region_index_build_50k", "images_synth",
    "images_fidelity", "images_features", "images_neardup",
]
RUNS_LOG = os.path.join(ROOT, "BENCH", "runs.jsonl")
REPORT = os.path.join(ROOT, "BENCH", "BASELINE_STAGE.md")


def run_leg(sf_dir: str, cpus: int, stage: str) -> tuple[float, dict]:
    """One bench.py subprocess timing exactly one stage. Returns
    (stage seconds, per-build-stage seconds dict — empty unless the stage
    is an index build). A failed leg raises with the bench stderr tail
    instead of crashing on empty stdout and discarding the cause
    (ADVICE r4)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_STAGES=stage,
    )
    # identical deterministic synthetic scale-up at every level (same
    # config as tools/scaling.py so numbers are comparable)
    env.setdefault("SPARK_GRAFT_EXTRA_POINTS", "500000")
    env.setdefault("SPARK_GRAFT_BENCH_IMAGES", "600000")
    env.setdefault("SPARK_GRAFT_BENCH_REGIONS", "100000")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(
            f"bench leg failed (stage={stage} cpus={cpus} rc={out.returncode}):\n"
            + out.stderr[-2000:]
        )
    from bench import read_record

    rec = read_record(out.stdout)
    return rec["queries"][stage], rec.get("build_stages", {}).get(stage, {})


def _eff(t_low: float, t_high: float, ratio: int) -> float:
    return round((t_low / t_high) / ratio, 3)


def eff_cell(lo: float | None, hi: float | None) -> str:
    """Stage-paired N->4N efficiency (lo / hi) / 4 as a report cell; "—"
    when a leg recorded no time or the 4N leg took 0 s (a recorded 0.0
    at N is a real efficiency of 0)."""
    if lo is None or hi is None or hi <= 0:
        return "—"
    return f"{lo / hi / 4:.3f}"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--report-only"]
    report_only = "--report-only" in sys.argv
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    n_low = int(args[1]) if len(args) > 1 else 2
    n_high = int(args[2]) if len(args) > 2 else 8
    reps = int(args[3]) if len(args) > 3 else 1
    stages = args[4].split(",") if len(args) > 4 else DEFAULT_STAGES
    ratio = n_high // n_low

    # legs[(rep, stage, cpus)] = sec; merge prior legs first so reports
    # accumulate across invocations (same contract as scaling.py).
    # bstages[(rep, stage, cpus)] = per-build-stage secs (index builds).
    legs: dict[tuple[int, str, int], float] = {}
    bstages: dict[tuple[int, str, int], dict] = {}
    base_rep = 0
    if (report_only or os.environ.get("PAIRSTAGE_MERGE") == "1") and os.path.exists(RUNS_LOG):
        with open(RUNS_LOG) as f:
            for ln in f:
                r = json.loads(ln)
                if (
                    r.get("kind") == "stagepair"
                    and r.get("low") == n_low
                    and r.get("high") == n_high
                    and r.get("sf") == sf_dir
                ):
                    legs[(r["rep"], r["stage"], r["cpus"])] = r["sec"]
                    if r.get("build_stages"):
                        bstages[(r["rep"], r["stage"], r["cpus"])] = r["build_stages"]
                    base_rep = max(base_rep, r["rep"] + 1)

    if not report_only:
        for rep in range(base_rep, base_rep + reps):
            order = (n_low, n_high) if rep % 2 == 0 else (n_high, n_low)
            for stage in stages:
                for cpus in order:
                    t0 = time.time()
                    sec, bs = run_leg(sf_dir, cpus, stage)
                    rec = {
                        "kind": "stagepair", "rep": rep, "stage": stage,
                        "cpus": cpus, "sec": sec, "low": n_low, "high": n_high,
                        "sf": sf_dir, "leg_wall": round(time.time() - t0, 1),
                    }
                    if bs:
                        rec["build_stages"] = bs
                        bstages[(rep, stage, cpus)] = bs
                    legs[(rep, stage, cpus)] = sec
                    with open(RUNS_LOG, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(json.dumps(rec), flush=True)

    if not legs:
        print("no stagepair legs recorded")
        return

    all_reps = sorted({r for (r, _, _) in legs})
    all_stages = [s for s in DEFAULT_STAGES if any(k[1] == s for k in legs)]

    def t(rep: int, stage: str, cpus: int) -> float | None:
        return legs.get((rep, stage, cpus))

    # per-rep composites (every stage same-window)
    rep_rows = []
    for rep in all_reps:
        have = [s for s in all_stages if t(rep, s, n_low) and t(rep, s, n_high)]
        if not have:
            continue
        hl = [s for s in have if s in HEADLINE]
        hv = [s for s in have if s in HEAVY]
        row = {"rep": rep, "n_stages": len(have)}
        if hl:
            row["eff_headline"] = _eff(
                sum(t(rep, s, n_low) for s in hl), sum(t(rep, s, n_high) for s in hl), ratio
            )
        if hv:
            row["eff_heavy"] = _eff(
                sum(t(rep, s, n_low) for s in hv), sum(t(rep, s, n_high) for s in hv), ratio
            )
        rep_rows.append(row)

    # per-stage: per-rep same-window efficiencies + minima across reps
    stage_rows = []
    for s in all_stages:
        lows = [t(r, s, n_low) for r in all_reps if t(r, s, n_low)]
        highs = [t(r, s, n_high) for r in all_reps if t(r, s, n_high)]
        pair_effs = [
            _eff(t(r, s, n_low), t(r, s, n_high), ratio)
            for r in all_reps
            if t(r, s, n_low) and t(r, s, n_high)
        ]
        if not lows or not highs:
            continue
        stage_rows.append({
            "stage": s, "min_low": min(lows), "min_high": min(highs),
            "eff_min": _eff(min(lows), min(highs), ratio),
            "pair_effs": pair_effs, "best_pair": max(pair_effs) if pair_effs else None,
        })

    hl_rows = [r for r in stage_rows if r["stage"] in HEADLINE]
    hv_rows = [r for r in stage_rows if r["stage"] in HEAVY]
    comp_min_hl = _eff(
        sum(r["min_low"] for r in hl_rows), sum(r["min_high"] for r in hl_rows), ratio
    ) if hl_rows else None
    comp_min_hv = _eff(
        sum(r["min_low"] for r in hv_rows), sum(r["min_high"] for r in hv_rows), ratio
    ) if hv_rows else None

    summary = {
        "kind": "stagepair_summary", "low": n_low, "high": n_high,
        "reps": len(all_reps), "composite_min_headline": comp_min_hl,
        "composite_min_heavy": comp_min_hv,
        "per_rep": rep_rows,
        "best_rep_headline": max((r.get("eff_headline", 0) for r in rep_rows), default=None),
        "best_rep_heavy": max((r.get("eff_heavy", 0) for r in rep_rows), default=None),
    }
    print(json.dumps(summary))

    lines = [
        "# BENCH/BASELINE_STAGE — stage-interleaved scaling pairs",
        "",
        f"Same workload and levels as BENCH/BASELINE.md (`local[{n_low}]` vs "
        f"`local[{n_high}]`, identical input incl. the deterministic synthetic "
        "scale-up), but each STAGE's two legs run back-to-back (one bench.py "
        "subprocess per leg via `SPARK_GRAFT_STAGES`, state dirs keyed by "
        "parallelism level). A full-run pair separates the two measurements of "
        "any given stage by ~10 minutes of other stages — on this shared VM, "
        "whose deliverable capacity drifts on that timescale (see the ceiling "
        "probes in BASELINE.md), that drift lands inside the ratio. Here the "
        "legs of every per-stage ratio share a host window by construction; "
        "leg order alternates per rep so cache warm-up bias is symmetric.",
        "",
        f"**Composite efficiency (headline stages, per-level minima over {len(all_reps)} reps)** = "
        f"**{comp_min_hl}**",
        "",
        f"**Composite efficiency (heavy 100 TB-dominant stages)** = **{comp_min_hv}**",
        "",
        "The minima composite pairs each level's best-ever stage time, which "
        "usually come from DIFFERENT host windows — it can erode as more reps "
        "find faster low-level legs without a matching high-level window. The "
        "per-rep rows below are the coherent measurements: every stage's two "
        "legs adjacent, one pass per row.",
        "",
        "Per-rep same-window composites (one row = one pass over all stages, "
        "each stage's legs adjacent):",
        "",
        "| rep | headline eff | heavy eff | stages |",
        "|---|---|---|---|",
    ]
    for r in rep_rows:
        lines.append(
            f"| {r['rep']} | {r.get('eff_headline', '—')} | {r.get('eff_heavy', '—')} | {r['n_stages']} |"
        )
    lines += [
        "",
        "Per-stage (min across reps per level; pair eff per rep is same-window):",
        "",
        "| stage | sec @low (min) | sec @high (min) | eff (minima) | per-rep pair effs | best pair |",
        "|---|---|---|---|---|---|",
    ]
    for r in stage_rows:
        pe = ", ".join(f"{e:.3f}" for e in r["pair_effs"])
        lines.append(
            f"| {r['stage']} | {r['min_low']} | {r['min_high']} | {r['eff_min']} | {pe} | {r['best_pair']} |"
        )

    # per-BUILD-stage attribution (r4 verdict #1): which of
    # covers/keys/pairs/postings eats the build's parallelism. Each row's
    # per-rep eff pairs the SAME rep's low/high legs (same-window).
    for bench_stage in ("index_build", "region_index_build_50k"):
        reps_with = [
            r for r in all_reps
            if bstages.get((r, bench_stage, n_low)) and bstages.get((r, bench_stage, n_high))
        ]
        if not reps_with:
            continue
        sub = sorted({
            s for r in reps_with
            for s in bstages[(r, bench_stage, n_low)]
            if s in bstages[(r, bench_stage, n_high)]
        })
        lines += [
            "",
            f"Per-build-stage N->4N attribution for `{bench_stage}` "
            "(seconds from the index manifest's per-stage metrics; eff per "
            "rep is same-window):",
            "",
            "| build stage | sec @low (min) | sec @high (min) | eff (minima) | per-rep pair effs |",
            "|---|---|---|---|---|",
        ]
        for s in sub:
            lows = [bstages[(r, bench_stage, n_low)][s] for r in reps_with]
            highs = [bstages[(r, bench_stage, n_high)][s] for r in reps_with]
            pe = ", ".join(
                f"{_eff(lo, hi, ratio):.3f}" for lo, hi in zip(lows, highs)
            )
            lines.append(
                f"| {s} | {min(lows)} | {min(highs)} | "
                f"{_eff(min(lows), min(highs), ratio)} | {pe} |"
            )
    lines.append("")
    with open(REPORT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {REPORT}")


if __name__ == "__main__":
    main()
