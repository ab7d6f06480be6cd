"""The one bench-leg harness: every scaling report under BENCH/ is measured
by this script and rendered from its JSON-lines log alone.

A leg is one bench.py subprocess at local[cpus] (``run_leg``). Legs run at
two parallelism levels on identical input, including the deterministic
synthetic scale-up in ``LEG_DEFAULTS``; efficiency = (T_N / T_4N) / 4.
Level choice (default local[2] vs local[8]): every pandas-UDF task occupies
two OS threads, the JVM task thread feeding/draining Arrow and its Python
worker, so local[k] drives ~2k threads through UDF stages; the 4N level
must stay well under the host's vCPUs or the pair measures
oversubscription, not scaling. Host capacity drifts on a shared VM, so the
two legs of a ratio run back-to-back and leg order alternates per rep
(low-first on even reps) so cache warm-up bias is symmetric.

Modes (log -> report):
  stages  stage-interleaved pairs: stage S at n_low, then at n_high, then
          the next stage, so every per-stage ratio is same-window.
          BENCH/runs.jsonl ("kind": "stagepair") -> BENCH/BASELINE_STAGE.md
  full    full-run pairs, each followed by a multiprocessing ceiling probe
          in the same host window.
          BENCH/runs.jsonl (bench records + "kind": "ceiling") -> BENCH/BASELINE.md
  points  SPARK_GRAFT_EXTRA_POINTS swept over tagged corpus sizes on
          index_build: BENCH/floors2x.jsonl -> BENCH/FLOORS_2X.md
  caps    SPARK_GRAFT_BENCH_CAPS swept over tagged cap-batch sizes on the
          query stages: BENCH/qfloors.jsonl -> BENCH/QUERY_FLOORS.md

Usage:
  python tools/pairstage.py [stages] [sf_dir] [n_low] [n_high] [reps] [stages_csv]
  python tools/pairstage.py full [sf_dir] [n_low] [n_high] [reps]
  python tools/pairstage.py points|caps [reps] [tag:value,...]
New legs are appended to the mode's log, rep numbering continuing after its
last rep, and the report is rendered from every leg in the log.
--report-only renders the report and measures nothing: no Spark session,
no subprocess, no probe.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Callable, Sequence

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # for `import bench` (read_record, work_rows)

BENCH = os.path.join(ROOT, "BENCH")  # every log and report lives here
RUNS_LOG = "runs.jsonl"

# Identical deterministic scale-up at every level, so a leg is dominated by
# parallel work rather than fixed job overhead, and one pass per leg:
# pairing does the drift control, in-process reps would multiply the wall.
# The caller's environment overrides these.
LEG_DEFAULTS = {
    "SPARK_GRAFT_EXTRA_POINTS": "500000",
    "SPARK_GRAFT_BENCH_IMAGES": "600000",
    "SPARK_GRAFT_BENCH_REGIONS": "100000",
    "SPARK_GRAFT_BENCH_REPS": "1",
}

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
# the 100 TB-dominant build/image stages
HEAVY = [
    "index_build", "region_index_build_50k", "images_synth",
    "images_fidelity", "images_features", "images_neardup",
]


def run_leg(
    sf_dir: str, cpus: int, stages: Sequence[str], env: dict | None = None
) -> dict:
    """One bench.py subprocess at local[cpus] timing ``stages`` (the full
    bench when empty), with ``env`` over the caller's environment over
    ``LEG_DEFAULTS``. Returns the run's full record. A failed leg raises
    with the bench stderr tail instead of losing the cause."""
    leg_env = {
        **LEG_DEFAULTS, **os.environ, **(env or {}),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_STAGES": ",".join(stages),
    }
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=leg_env, capture_output=True, text=True, timeout=3600,
    )
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(
            f"bench leg failed (stages={','.join(stages) or 'all'} cpus={cpus} "
            f"rc={out.returncode}):\n" + out.stderr[-2000:]
        )
    from bench import read_record

    return read_record(out.stdout)


def leg_order(rep: int, n_low: int, n_high: int) -> tuple[int, int]:
    return (n_low, n_high) if rep % 2 == 0 else (n_high, n_low)


def read_log(name: str) -> list[dict]:
    path = os.path.join(BENCH, name)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f]


def append_log(name: str, rec: dict) -> None:
    with open(os.path.join(BENCH, name), "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)


def write_report(name: str, text: str) -> None:
    path = os.path.join(BENCH, name)
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path}")


def _eff(t_low: float, t_high: float, ratio: int) -> float:
    return round((t_low / t_high) / ratio, 3)


def eff_cell(lo: float | None, hi: float | None) -> str:
    """Stage-paired N->4N efficiency (lo / hi) / 4 as a report cell; "—"
    when a leg recorded no time or the 4N leg took 0 s (a recorded 0.0
    at N is a real efficiency of 0)."""
    if lo is None or hi is None or hi <= 0:
        return "—"
    return f"{lo / hi / 4:.3f}"


# -- stages: stage-interleaved pairs ----------------------------------------


def stages_mode(args: list[str], report_only: bool) -> None:
    sf_dir, n_low, n_high, reps = _levels(args)
    stages = args[4].split(",") if len(args) > 4 else DEFAULT_STAGES
    legs = [
        r for r in read_log(RUNS_LOG)
        if r.get("kind") == "stagepair"
        and (r["low"], r["high"], r["sf"]) == (n_low, n_high, sf_dir)
    ]
    base_rep = max((r["rep"] for r in legs), default=-1) + 1
    if not report_only:
        for rep in range(base_rep, base_rep + reps):
            for stage in stages:
                for cpus in leg_order(rep, n_low, n_high):
                    t0 = time.time()
                    rec = run_leg(sf_dir, cpus, [stage])
                    leg = {
                        "kind": "stagepair", "rep": rep, "stage": stage,
                        "cpus": cpus, "sec": rec["queries"][stage],
                        "low": n_low, "high": n_high, "sf": sf_dir,
                        "leg_wall": round(time.time() - t0, 1),
                    }
                    bs = rec.get("build_stages", {}).get(stage)
                    if bs:
                        leg["build_stages"] = bs
                    append_log(RUNS_LOG, leg)
                    legs.append(leg)
    if not legs:
        print("no stagepair legs recorded")
        return
    write_report("BASELINE_STAGE.md", render_stages(legs, n_low, n_high))


def render_stages(log: list[dict], n_low: int, n_high: int) -> str:
    """Per-rep composites, eff_r = (sum_S t_low[S,r] / sum_S t_high[S,r]) / 4
    with every stage contribution same-window, plus per-stage minima and
    per-build-stage attribution of the index builds."""
    ratio = n_high // n_low
    legs = {(r["rep"], r["stage"], r["cpus"]): r["sec"] for r in log}
    bstages = {
        (r["rep"], r["stage"], r["cpus"]): r["build_stages"]
        for r in log if r.get("build_stages")
    }
    all_reps = sorted({r for (r, _, _) in legs})
    all_stages = [s for s in DEFAULT_STAGES if any(k[1] == s for k in legs)]

    def t(rep: int, stage: str, cpus: int) -> float | None:
        return legs.get((rep, stage, cpus))

    rep_rows = []
    for rep in all_reps:
        have = [s for s in all_stages if t(rep, s, n_low) and t(rep, s, n_high)]
        if not have:
            continue
        row = {"rep": rep, "n_stages": len(have)}
        for key, group in (("eff_headline", HEADLINE), ("eff_heavy", HEAVY)):
            sel = [s for s in have if s in group]
            if sel:
                row[key] = _eff(
                    sum(t(rep, s, n_low) for s in sel),
                    sum(t(rep, s, n_high) for s in sel), ratio,
                )
        rep_rows.append(row)

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

    def composite(group: list[str]) -> float | None:
        rows = [r for r in stage_rows if r["stage"] in group]
        if not rows:
            return None
        return _eff(
            sum(r["min_low"] for r in rows), sum(r["min_high"] for r in rows), ratio
        )

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
        f"**{composite(HEADLINE)}**",
        "",
        f"**Composite efficiency (heavy 100 TB-dominant stages)** = **{composite(HEAVY)}**",
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

    # which of covers/keys/pairs/postings eats the build's parallelism; each
    # per-rep eff pairs the SAME rep's low/high legs (same-window)
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
    return "\n".join(lines)


# -- full: full-run pairs with per-pair ceiling probes -----------------------


def _kernel_work(n: int) -> None:
    import numpy as np

    from rgm import covering as cov

    rng = np.random.default_rng(os.getpid())
    cov.cover_caps_batch(
        rng.uniform(25, 49, n), rng.uniform(-124, -67, n), np.full(n, 1000.0), 30
    )


def raw_kernel_ceiling(n_low: int, n_high: int) -> float:
    """Hardware scaling ceiling: the covering kernel under plain
    multiprocessing (no Spark). On SMT/shared VMs even embarrassingly
    parallel numpy tops out below 1.0 — engine efficiency should be read
    against this ceiling."""
    import multiprocessing as mp

    def agg(workers: int) -> float:
        n_per = 6000
        t0 = time.time()
        with mp.Pool(workers) as p:
            p.map(_kernel_work, [n_per] * workers)
        return workers * n_per / (time.time() - t0)

    return (agg(n_high) / agg(n_low)) / (n_high / n_low)


def _image_work(args: tuple) -> int:
    """Sustained image kernel (synth -> encode -> decode -> phash), the
    per-row work of the bench's dominant stages, run for a fixed wall."""
    seed, secs = args
    from rgm import images as rim

    t0 = time.time()
    n = 0
    while time.time() - t0 < secs:
        px = rim.synth_pixels(seed * 100_000 + n, 64, 64, 42)
        fmt = rim.FORMATS[n % len(rim.FORMATS)]
        rim.avg_phash(rim.decode_image(rim.encode_image(px, fmt), fmt, 64, 64))
        n += 1
    return n


def sustained_image_ceiling(n_low: int, n_high: int, secs: float = 8.0) -> float:
    """Second per-window ceiling: the image kernel under multiprocessing.
    Distinguishes 'the VM has no spare cores' from 'the Spark IPC path is
    bandwidth-bound'."""
    import multiprocessing as mp

    def rate(workers: int) -> float:
        with mp.Pool(workers) as p:
            ns = p.map(_image_work, [(i, secs) for i in range(workers)])
        return sum(ns) / secs

    return (rate(n_high) / rate(n_low)) / (n_high / n_low)


def full_mode(args: list[str], report_only: bool) -> None:
    sf_dir, n_low, n_high, reps = _levels(args)
    log = read_log(RUNS_LOG)
    if not report_only:
        for _ in range(reps):
            pair = [run_leg(sf_dir, n_low, []), run_leg(sf_dir, n_high, [])]
            # probe the hardware ceiling in the SAME host window as the pair
            pair.append({
                "kind": "ceiling",
                "value": round(raw_kernel_ceiling(n_low, n_high), 3),
                "image_kernel": round(sustained_image_ceiling(n_low, n_high), 3),
            })
            for rec in pair:
                append_log(RUNS_LOG, rec)
            log += pair
    text = render_full(log, sf_dir, n_low, n_high)
    if text is None:
        sys.exit("no full runs to report")
    write_report("BASELINE.md", text)


def _merge_min(runs: list[dict]) -> dict:
    """Merge the repetitions of one level. Reports BOTH:
    - value_best_run: best single whole-run headline wall (a wall some run
      actually achieved), and
    - value (composite_min): sum of per-query minima across reps — a
      drift-robust composite no single run achieved; labeled as such in
      BASELINE.md. Throughput uses bench.work_rows (one shared formula).
    """
    import bench

    base = dict(runs[0])
    qmin = {}
    for q in runs[0]["queries"]:
        qmin[q] = min(r["queries"][q] for r in runs if q in r["queries"])
    base["queries"] = {k: round(v, 3) for k, v in qmin.items()}
    base["value"] = round(sum(qmin[q] for q in base["headline"] if q in qmin), 3)
    base["value_best_run"] = round(min(r["value"] for r in runs), 3)
    wrk = bench.work_rows(
        base["n_points"], base.get("n_regions", 0), base["rows"]
    )
    base["throughput_rows_per_sec"] = (
        round(wrk / base["value"], 1) if base["value"] else None
    )
    base["throughput_rows_per_sec_best_run"] = (
        round(wrk / base["value_best_run"], 1) if base["value_best_run"] else None
    )
    return base


def render_full(log: list[dict], sf_dir: str, n_low: int, n_high: int) -> str | None:
    """BASELINE.md from the full bench records and ceiling lines of the log;
    None when a level has no run."""
    runs = [r for r in log if "kind" not in r and r.get("sf") == sf_dir]
    lows = [r for r in runs if r.get("cpus") == n_low]
    highs = [r for r in runs if r.get("cpus") == n_high]
    ceilings = [r for r in log if r.get("kind") == "ceiling"]
    if not lows or not highs:
        return None
    reps = max(len(lows), len(highs))
    lo, hi = _merge_min(lows), _merge_min(highs)
    ratio = n_high / n_low
    heavy = [q for q in HEAVY if q in lo["queries"]]
    # per-pair efficiency: each pair ran in one host window, so the spread
    # shows how much the VM's minute-scale capacity swings move the number
    pairs = []
    for i, (lr, hr) in enumerate(zip(lows, highs)):
        e = round((lr["value"] / hr["value"]) / ratio, 3)
        tlh = sum(lr["queries"][q] for q in heavy)
        thh = sum(hr["queries"][q] for q in heavy)
        eh = round((tlh / thh) / ratio, 3) if thh else float("nan")
        cd = ceilings[i] if i < len(ceilings) else None
        cw = cd["value"] if cd else None
        pairs.append({
            "pair": i, "eff": e, "eff_heavy": eh, "ceiling": cw,
            "ceiling_img": cd.get("image_kernel") if cd else None,
            "eff_norm": round(e / cw, 3) if cw else None,
            "eff_heavy_norm": round(eh / cw, 3) if cw else None,
        })
    pair_effs = [p["eff"] for p in pairs]
    eff_total = (lo["value"] / hi["value"]) / ratio
    eff_best_run = (lo["value_best_run"] / hi["value_best_run"]) / ratio
    t_lo_h = sum(lo["queries"][q] for q in heavy)
    t_hi_h = sum(hi["queries"][q] for q in heavy)
    eff_heavy = (t_lo_h / t_hi_h) / ratio if t_hi_h else float("nan")
    per_q = {
        q: round((lo["queries"][q] / hi["queries"][q]) / ratio, 3)
        for q in lo["queries"]
        if q in hi["queries"] and hi["queries"][q] > 0
    }
    best_pair = max(pair_effs) if pair_effs else float("nan")

    out = [
        "# BENCH/BASELINE — measured throughput + scaling efficiency\n\n",
        f"Identical input (`{sf_dir}` + {lo['n_points']:,} total indexed "
        f"points incl. deterministic synthetic scale-up), identical job, "
        f"two parallelism levels (`local[{n_low}]` vs `local[{n_high}]`) "
        "— the sandbox evidence for the north_rule's N vs 4N executor "
        "criterion. Each pandas-UDF task occupies two OS threads (JVM "
        f"Arrow feeder + Python worker), so local[{n_high}] already "
        f"drives ~{2*n_high} threads; larger levels on this 32-vCPU box "
        "would measure oversubscription, not scaling. Levels were run "
        f"interleaved x{reps} (shared-host capacity drifts); per-query "
        "minima reported. The headline wall covers the data-proportional "
        "pipeline (index builds + 2000-cap query batch + tile pass); "
        "fixed-size driver-contract queries are reported per-query "
        "below.\n\n",
        "| metric | local[%d] | local[%d] |\n|---|---|---|\n" % (n_low, n_high),
        f"| headline wall, best single run (sec) | {lo['value_best_run']} "
        f"| {hi['value_best_run']} |\n",
        f"| headline wall, composite of per-query minima (sec) | "
        f"{lo['value']} | {hi['value']} |\n",
        f"| throughput, best single run (rows/sec) | "
        f"{lo['throughput_rows_per_sec_best_run']} | "
        f"{hi['throughput_rows_per_sec_best_run']} |\n",
        f"| throughput, composite (rows/sec) | {lo['throughput_rows_per_sec']} | "
        f"{hi['throughput_rows_per_sec']} |\n",
        f"| points indexed | {lo['n_points']} | {hi['n_points']} |\n\n",
        "The composite row sums per-query minima across the interleaved "
        "reps — drift-robust but not a wall any single run achieved; the "
        "best-single-run row is. Both are reported; efficiency is quoted "
        "for both.\n\n",
        f"**Scaling efficiency (headline, best single run)** = "
        f"(T{n_low}/T{n_high})/{ratio:g} = **{eff_best_run:.3f}**\n\n",
        f"**Scaling efficiency (headline, composite-min)** = "
        f"(T{n_low}/T{n_high})/{ratio:g} = **{eff_total:.3f}**\n\n",
        f"**Per-interleaved-pair efficiency** (each pair = one low run +"
        f" one high run back-to-back in the same host window): "
        f"{pair_effs}; best same-window pair = **{best_pair:.3f}**. "
        "A pair is the cleanest N-vs-4N comparison this shared VM "
        "permits — both measurements see the same co-tenant load; the "
        "spread across pairs shows that load swinging 2x within the "
        "hour. The composite-min above mixes windows and is the "
        "conservative summary.\n\n",
        "Even a back-to-back pair separates the two measurements of any "
        "given STAGE by the ~10 minutes the rest of the run takes, so "
        "intra-pair drift still lands inside the ratio. "
        "`BENCH/BASELINE_STAGE.md` (tools/pairstage.py) tightens this: "
        "each stage's two legs run adjacently, making every per-stage "
        "ratio same-window by construction.\n\n",
        "Per-pair detail (heavy = the 100 TB-dominant build/image "
        "stages; ceiling = the multiprocessing covering-kernel probe "
        "run in the SAME host window as the pair; norm = pair "
        "efficiency / that window's ceiling — how much of the "
        "deliverable parallelism the engine captured):\n\n"
        "| pair | headline eff | heavy eff | window ceiling (covering kernel) | "
        "window ceiling (image kernel) | headline/ceiling | heavy/ceiling |"
        "\n|---|---|---|---|---|---|---|\n",
    ]
    for p in pairs:
        cw = f"{p['ceiling']:.3f}" if p["ceiling"] else "—"
        cwi = f"{p['ceiling_img']:.3f}" if p.get("ceiling_img") else "—"
        en = f"{p['eff_norm']:.3f}" if p["eff_norm"] else "—"
        ehn = f"{p['eff_heavy_norm']:.3f}" if p["eff_heavy_norm"] else "—"
        out.append(
            f"| {p['pair']} | {p['eff']:.3f} | {p['eff_heavy']:.3f} | "
            f"{cw} | {cwi} | {en} | {ehn} |\n"
        )
    out.append("\n")
    cov = [c["value"] for c in ceilings]
    if cov:
        out.append(
            "**Hardware ceiling on this VM**: the same covering kernel under "
            "plain multiprocessing (no Spark), probed once per pair in that "
            f"pair's host window, measured between **{min(cov):.3f}** and "
            f"**{max(cov):.3f}** at {n_low}->{n_high} workers (median "
            f"**{statistics.median(cov):.3f}** over {len(cov)} probes) — the "
            "shared VM's deliverable parallel efficiency itself swings with "
            "co-tenant load, which is exactly the spread the per-pair engine "
            "numbers show. vCPUs beyond the physical-core count (SMT) and "
            "shared memory bandwidth cap even embarrassingly parallel numpy "
            "below 1.0, so engine numbers should be read against the "
            "window's ceiling: engine pairs at or above it mean the plan "
            "adds no scaling overhead of its own. On a real N->4N executor "
            "cluster each executor adds its own cores, memory bus, and "
            "disks.\n\n"
        )
    out += [
        f"**Scaling efficiency (index-build work, the 100 TB-dominant stages)** "
        f"= **{eff_heavy:.3f}** ({'+'.join(heavy)}: {t_lo_h:.1f}s -> {t_hi_h:.1f}s)\n\n",
        "Per-query efficiency (same formula):\n\n",
        "| query | sec @%d | sec @%d | efficiency |\n|---|---|---|---|\n" % (n_low, n_high),
    ]
    for q, e in per_q.items():
        out.append(f"| {q} | {lo['queries'][q]} | {hi['queries'][q]} | {e} |\n")
    out.append(
        "\nNotes: small-scale wall times carry fixed Spark job-submission "
        "overhead that a real 100 TB run amortizes; the parallel-work "
        "stages (index build, covering UDF, query joins) are the "
        "signal.\n"
    )
    return "".join(out)


# -- points / caps: one bench env var swept over tagged values ---------------


SWEEP_SF = "/root/testdata/sf0.1"
SWEEP_LOW, SWEEP_HIGH = 2, 8
BUILD_STAGES = ("covers", "keys", "pairs", "postings")
QUERY_STAGES = (
    "contains_2000_caps",
    "count_2000_caps",
    "region_contains_2000",
    "contains_2000_polygons",  # logged from caps rep 3 on; earlier reps show —
)


@dataclass(frozen=True)
class Sweep:
    var: str  # the bench env var set to each tagged value
    value_key: str  # the log field recording that value
    stages: tuple[str, ...]  # bench stages each leg times
    scales: str  # default "tag:value,..." list
    log: str
    report: str
    intro: tuple[str, ...]
    columns: tuple[str, ...]  # table columns after rep and scale
    fields: Callable[[dict], dict]  # a leg's log fields from its bench record
    cells: Callable[[dict, dict], list[str]]  # row cells from the two legs


def _points_cells(lo: dict, hi: dict) -> list[str]:
    return [
        f"{lo['sec']:.1f}", f"{hi['sec']:.1f}", eff_cell(lo["sec"], hi["sec"]),
    ] + [eff_cell(lo["build_stages"].get(s), hi["build_stages"].get(s)) for s in BUILD_STAGES]


def _caps_cells(lo: dict, hi: dict) -> list[str]:
    tlo, thi = sum(lo["stages"].values()), sum(hi["stages"].values())
    return [
        str(lo["n_caps"]), f"{tlo:.1f}", f"{thi:.1f}", eff_cell(tlo, thi),
    ] + [eff_cell(lo["stages"].get(s), hi["stages"].get(s)) for s in QUERY_STAGES]


SWEEPS = {
    # Does the index_build scaling gap amortize with corpus size? If the
    # sub-0.6 efficiencies at 650k points are fixed job floors (scheduling,
    # sampling passes, manifest commit), they rise as per-stage work grows.
    "points": Sweep(
        var="SPARK_GRAFT_EXTRA_POINTS",
        value_key="extra",
        stages=("index_build",),
        scales="1x:500000,2x:1700000",  # total points = extra + 150k sf0.1 base
        log="floors2x.jsonl",
        report="FLOORS_2X.md",
        intro=(
            "# BENCH/FLOORS_2X — does the index_build scaling gap amortize with corpus size?",
            "",
            "Same stage-paired method as BENCH/BASELINE_STAGE.md, but each rep runs",
            "the index_build pair at SEVERAL corpus sizes back-to-back (1x = the",
            "standard 650k-point scaling config; 2x = 1,850,000 points; 4x where",
            "present = 2,750,000). If the per-build-stage efficiencies rise with",
            "corpus size, the 1x gap is fixed job floors amortizing, not a",
            "parallelism defect in the plan.",
        ),
        columns=("total @2", "total @8", "eff") + tuple(f"{s} eff" for s in BUILD_STAGES),
        fields=lambda rec: {
            "sec": rec["queries"]["index_build"],
            "build_stages": rec.get("build_stages", {}).get("index_build", {}),
        },
        cells=_points_cells,
    ),
    # The same question for the query stages: the cap batch is query-side
    # only, so the committed scaling-config indexes are reused untimed.
    "caps": Sweep(
        var="SPARK_GRAFT_BENCH_CAPS",
        value_key="n_caps",
        stages=QUERY_STAGES,
        scales="1x:2000,4x:8000,16x:32000",
        log="qfloors.jsonl",
        report="QUERY_FLOORS.md",
        intro=(
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
            "Rep 0 predates the distributed query covering pass",
            "(`rgm/query.py:_covers_distributed`); BENCH/NOTES_r5.md discusses",
            "each rep.",
        ),
        columns=("caps", "total @2", "total @8", "eff") + tuple(f"{s} eff" for s in QUERY_STAGES),
        fields=lambda rec: {"stages": {s: rec["queries"][s] for s in QUERY_STAGES}},
        cells=_caps_cells,
    ),
}


def sweep_mode(sw: Sweep, args: list[str], report_only: bool) -> None:
    reps = int(args[0]) if len(args) > 0 else 1
    scales = [part.split(":") for part in (args[1] if len(args) > 1 else sw.scales).split(",")]
    legs = read_log(sw.log)
    base_rep = max((r["rep"] for r in legs), default=-1) + 1
    if not report_only:
        for rep in range(base_rep, base_rep + reps):
            # scales interleaved within a rep so they share a host window
            for tag, value in scales:
                for cpus in leg_order(rep, SWEEP_LOW, SWEEP_HIGH):
                    t0 = time.time()
                    rec = run_leg(SWEEP_SF, cpus, sw.stages, {sw.var: value})
                    leg = {
                        "tag": tag, "rep": rep, "cpus": cpus,
                        sw.value_key: int(value), **sw.fields(rec),
                        "leg_wall": round(time.time() - t0, 1),
                    }
                    append_log(sw.log, leg)
                    legs.append(leg)
    write_report(sw.report, render_sweep(sw, legs))


def render_sweep(sw: Sweep, legs: list[dict]) -> str:
    columns = ("rep", "scale") + sw.columns
    lines = list(sw.intro) + [
        "",
        "| " + " | ".join(columns) + " |",
        "|" + "---|" * len(columns),
    ]
    by: dict[tuple[int, str], dict[int, dict]] = {}
    for r in legs:
        by.setdefault((r["rep"], r["tag"]), {})[r["cpus"]] = r
    for (rep, tag), d in sorted(by.items()):
        if SWEEP_LOW in d and SWEEP_HIGH in d:
            cells = [str(rep), tag] + sw.cells(d[SWEEP_LOW], d[SWEEP_HIGH])
            lines.append("| " + " | ".join(cells) + " |")
    lines.append("")
    return "\n".join(lines)


def _levels(args: list[str]) -> tuple[str, int, int, int]:
    """[sf_dir] [n_low] [n_high] [reps] of the stages and full modes."""
    return (
        args[0] if len(args) > 0 else "/root/testdata/sf0.1",
        int(args[1]) if len(args) > 1 else 2,
        int(args[2]) if len(args) > 2 else 8,
        int(args[3]) if len(args) > 3 else 1,
    )


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    report_only = "--report-only" in argv
    args = [a for a in argv if a != "--report-only"]
    mode = args.pop(0) if args and args[0] in ("stages", "full", *SWEEPS) else "stages"
    if mode == "stages":
        stages_mode(args, report_only)
    elif mode == "full":
        full_mode(args, report_only)
    else:
        sweep_mode(SWEEPS[mode], args, report_only)


if __name__ == "__main__":
    main()
