"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve|bulk --seed N --seconds S --trace 0|1

One process, one client, closed loop: each call waits for the previous one.
Set-up (Spark session, seeded inputs written as parquet, the point index
build, expected answers, warm-up calls) runs first. The timed window then
runs whole rounds -- each timed operation its ``per_round`` times, in a
fixed order -- until S seconds have passed, two rounds at least. Every
result is checked against ``oracle``.

With --trace 0 the metrics are the end-to-end ones. With --trace 1 the
rounds alternate untraced and traced, and the run then probes each layer;
its metrics are the per-layer ones. The last stdout line is one JSON object
(correct, attempted, failed, metrics); the full record -- every sample,
spans, host figures -- goes to perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import Tracer  # noqa: E402

DRIVER_MEMORY = "2g"
MAX_CPUS = 4
APPEND_POINTS = 2_000

# name -> unit of every metric the last stdout line carries (BENCHMARK.json
# lists the same); the run record keeps every layer number measured
END_TO_END = {
    "setup_s": "s", "count_s_p50": "s", "tile_points_per_s": "points/s", "index_bytes_per_key": "B/key",
}
PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_share": "ratio",
    "search.query.plan_s": "s",
    "search.query.refine_s": "s",
    "search.query.candidates_per_row": "ratio",
    "search.query.spark_jobs": "count",
    "search.query.spark_tasks": "count",
    "count.query.plan_s": "s",
    "count.query.spark_jobs": "count",
    "polygon.query.refine_s": "s",
    "udfs.compute_covers_rows_per_s": "rows/s",
    "covering.caps_per_s": "caps/s",
    "covering.polygons_per_s": "polygons/s",
    "geo.cap_tests_per_s": "tests/s",
    "geo.polygon_tests_per_s": "tests/s",
    "geo.rects_vs_rings_per_s": "tests/s",
    "bitmap.encode_values_per_s": "values/s",
    "bitmap.decode_values_per_s": "values/s",
    "cellmath.leaf_cells_per_s": "cells/s",
    "index.covers_s": "s",
    "index.postings_s": "s",
    "index.spark_jobs": "count",
    "index.postings_bytes_per_key": "B/key",
    "streaming.spark_jobs": "count",
}


def median(xs) -> float:
    return float(statistics.median(xs))


def stop(spark) -> None:
    """Stop Spark, then end the JVM ``get_spark`` launched (it exits when its
    stdin closes, and its Python workers with it) and wait for all of them."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(host.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def session(work: str):
    from rgm.session import get_spark

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(app_name="perfbench", cpus=cpus, driver_memory=DRIVER_MEMORY, extra_conf=conf), cpus


class Runner:
    """Calls operations, times them, checks every result."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.problems: list[str] = []
        self.ties = 0
        self.samples: list[dict] = []

    def call(self, op, phase: str, rnd: int) -> float | None:
        self.attempted += 1
        res = None
        steal0 = host.cpu_steal_s()
        with self.tracer.span(op.name) as span:
            t = time.perf_counter()
            try:
                res = op.run()
            except Exception:  # counted as failed; the run goes on
                self.failed += 1
                self.errors.append(f"{op.name} ({phase} round {rnd}): {traceback.format_exc(limit=4)}")
            secs = time.perf_counter() - t
        sample = {"op": op.name, "phase": phase, "round": rnd, "s": secs, "steal_s": host.cpu_steal_s() - steal0,
                  "ok": res is not None, "span": span.span_id if span else None}
        if res is not None:
            sample["ties"] = self.checked(op.check(res))
        self.samples.append(sample)
        return secs if res is not None else None

    def checked(self, v) -> int:
        self.problems += v.problems
        self.ties += v.ties
        return v.ties

    def round(self, ops, phase: str, rnd: int) -> float | None:
        secs = [self.call(op, phase, rnd) for op in ops for _ in range(op.per_round)]
        return None if None in secs else sum(secs)

    def timed(self, name: str) -> list[float]:
        return [s["s"] for s in self.samples if s["op"] == name and s["phase"] == "timed" and s["ok"]]


def layer_metrics(wl, runner: Runner, tracer: Tracer, spark, seed: int) -> dict:
    """Per-layer numbers of the traced run, from its spans and direct probes."""
    import inputs
    import kernels
    import oracle
    import workloads
    from rgm import query as rq
    from rgm import streaming as rs

    m: dict[str, float] = {}
    def spark_counts(name: str, span) -> None:
        m[f"{name}.query.spark_jobs"] = span.jobs
        m[f"{name}.query.spark_stages"] = span.stages
        m[f"{name}.query.spark_tasks"] = span.tasks

    for s in runner.samples:  # the last traced call of each timed operation
        if s["phase"] == "timed" and s["span"] is not None and s["ok"]:
            spark_counts(s["op"], tracer.spans[s["span"]])

    bucket = rq.index_bucket(wl.idx, None)
    for name, batch, truth in (
        ("search", wl.caps, wl.caps_truth), ("polygon", wl.polys, wl.polys_truth), ("count", wl.count_caps, None)
    ):
        with tracer.span(f"{name}.query.plan_query_cells") as s:
            rq.plan_query_cells(spark, batch, bucket, 30)
        m[f"{name}.query.plan_s"] = s.seconds
        if truth is None:
            continue
        with tracer.span(f"{name}.query.candidate_keys") as s:
            n_cand = rq.candidate_keys(spark, wl.idx, batch).count()
        m[f"{name}.query.candidate_s"] = s.seconds
        with tracer.span(f"{name}.query.search_refine_off") as off:
            rq.search(spark, wl.idx, batch, refine=False).count()
        with tracer.span(f"{name}.query.search") as on:
            res = rq.search(spark, wl.idx, batch).select("query_id", "key").toPandas()
        runner.checked(oracle.check_sets(name, workloads.key_sets(res), truth))
        spark_counts(name, on)
        m[f"{name}.query.refine_s"] = on.seconds - off.seconds
        m[f"{name}.query.candidates_per_row"] = n_cand / max(len(res), 1)

    st = wl.index
    n_keys = st["keys_rows"]
    for stage in ("covers", "keys", "pairs", "postings"):
        m[f"index.{stage}_s"] = st[f"{stage}_s"]
    m["index.spark_jobs"] = wl.build_span.jobs
    m["index.pairs_per_key"] = st["pairs_rows"] / n_keys
    for stage in ("keys", "pairs", "postings"):
        m[f"index.{stage}_bytes_per_key"] = st[f"{stage}_bytes"] / n_keys

    # one micro-batch of new points into the set-up index (last: it changes the index)
    src = os.path.join(wl.work, "stream", "in")
    os.makedirs(src)
    inputs.write_parquet(inputs.point_table(seed, "append", APPEND_POINTS, "a"), os.path.join(src, "part-0.parquet"))
    stream = spark.readStream.schema("key string, kind string, lat double, lng double").parquet(src)
    with tracer.span("streaming.stream_index_append") as s:
        q = rs.stream_index_append(spark, stream, "key", wl.idx, os.path.join(wl.work, "stream", "ckpt"))
        tracer.add_group(s, str(q.runId))
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"append failed: {q.exception()}")
    m["streaming.spark_jobs"] = s.jobs

    m.update(kernels.run(seed))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import workloads  # imports rgm
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.SIZES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.SIZES)}", file=sys.stderr)
        return 2

    # everything the run writes (inputs, indexes, Spark scratch) stays in here
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["TMPDIR"] = tempfile.tempdir

    spark = None
    try:
        with host.PssSampler() as pss:
            t = time.perf_counter()
            spark, cpus = session(work)
            session_s = time.perf_counter() - t
            tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
            wl = workloads.QueryWorkload(args.workload, spark, args.seed, work, tracer)
            wl.setup()
            ops = wl.ops()
            runner = Runner(tracer)
            runner.checked(wl.setup_verdict)
            for w in range(max(op.warmup for op in ops)):
                for op in ops:
                    if op.warmup > w:
                        runner.call(op, "warmup", w)
            setup_s = host.process_age_s()

            rounds, rounds_traced = [], []
            with host.HostWindow() as hw:
                t0 = time.perf_counter()
                rnd = 0
                while True:
                    traced = bool(args.trace) and rnd % 2 == 1
                    tracer.enabled = traced
                    secs = runner.round(ops, "timed", rnd)
                    if secs is not None:
                        (rounds_traced if traced else rounds).append(secs)
                    rnd += 1
                    # two rounds at least: a bulk round can outlast the window on a
                    # slow host, and a traced run needs one untraced and one traced
                    if time.perf_counter() - t0 >= args.seconds and rnd >= 2:
                        break
            tracer.enabled = bool(args.trace)
            if args.trace:
                metrics = {"session.start_s": session_s}
                if rounds and rounds_traced:
                    metrics["trace.overhead_share"] = median(rounds_traced) / median(rounds) - 1.0
                metrics.update(layer_metrics(wl, runner, tracer, spark, args.seed))
            stop(spark)
            spark = None
        cpu_loop_s = host.cpu_loop_s()  # after Spark has ended, so it runs alone
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    per_op = {}
    for op in ops:
        if not op.per_round:
            continue
        xs = runner.timed(op.name)
        per_op[op.name] = {"n": len(xs), "p50_s": median(xs) if xs else None}
    if not args.trace:
        metrics = {"setup_s": setup_s}
        if per_op["count"]["n"]:
            metrics["count_s_p50"] = per_op["count"]["p50_s"]
        if per_op["tiles"]["n"]:
            metrics["tile_points_per_s"] = wl.sizes.tile_points / per_op["tiles"]["p50_s"]
        metrics["index_bytes_per_key"] = wl.index_bytes_per_key()

    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not runner.problems,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "mem_total_mb": host.mem_total_mb(),
        "spark_slots": cpus, "driver_memory": DRIVER_MEMORY, "inputs": wl.record(),
        "warmup_calls": {op.name: op.warmup for op in ops},
        "session_s": session_s, "setup_phases": wl.setup_phases, "setup_s": setup_s, "rounds_s": rounds, "rounds_traced_s": rounds_traced,
        "per_op": per_op, "host_window": hw.record, "cpu_loop_s": cpu_loop_s, "pss_samples": pss.samples,
        "peak_pss_mb": {"tree": pss.peak_mb, "jvm": pss.peak_jvm_mb, "python": pss.peak_python_mb},
        "ties": runner.ties, "problems": runner.problems[:50], "errors": runner.errors[:20],
        "result": result, "metrics": metrics, "samples": runner.samples, "spans": tracer.records(),
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(
        HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    )
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    summary = " ".join(f"{k}={v['p50_s']:.3f}s(n={v['n']})" for k, v in per_op.items() if v["n"])
    print(f"perfbench {args.workload} seed={args.seed}: {summary} ties={runner.ties} "
          f"record={os.path.relpath(out, ROOT)}")
    for p in runner.problems[:5]:
        print(f"CHECK FAILED: {p}")
    for e in runner.errors[:3]:
        print(f"OPERATION FAILED: {e.splitlines()[0]}")
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
