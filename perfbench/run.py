"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run: pin the environment, set up
(session, seeded inputs, every operation run once untimed), then
measure whole units of the workload (a block of dashboard requests, a
batch pass) for about ``--seconds``, check every kept
output, and print one JSON line as the last line of stdout.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics.  A full record (environment, input
hash, per-call spans, calls ranked by driver-bound fraction) goes to
``perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_env(work: str) -> dict:
    """Pin the engine's environment knobs; returned for the record."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # the engine's scratch dirs (tempfile) and the JVM's stay inside
        # the checkout
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def calibrate(spark) -> float:
    """A fixed, data-independent CPU job: ambient-load context for the
    record, not a metric."""
    t0 = time.perf_counter()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 5_000_000, 1, cpus).selectExpr(
        "sum(id * 3 + 7) as s").collect()
    return round(time.perf_counter() - t0, 4)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between the
    two readings: ambient-load context for the record, not a metric."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def end_to_end(latencies: list[float], measured_s: float,
               setup_s: float) -> dict:
    """``latencies`` holds one entry per operation a user issues (a
    dashboard request, a batch pass)."""
    return {
        "setup_s": setup_s,
        "p50_ms": statistics.median(latencies) * 1000,
        "ops_per_s": len(latencies) / measured_s,
    }


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# per-call metric families of the similarity part: span name -> prefix
CALL_PREFIX = {
    "minhash": "operators.dedup.minhash",
    "ngram": "operators.dedup.ngram",
    "simhash": "operators.simhash",
    "cosine_topk": "analytics.similarity.cosine_topk",
    "connected_components": "operators.components",
    "ann_serve": "analytics.maintained.ann_serve",
}
ETL_CALLS = ("merge_cow", "merge_mor", "delete", "optimize", "vacuum",
             "read", "read_where")


def per_layer(ctx, tracer, session: dict, measured_s: float) -> dict:
    spans = tracer.timed()
    by = lambda layer, name=None: [  # noqa: E731
        s for s in spans if s.layer == layer and (name is None or s.name == name)
    ]
    m = {"session.start_s": session["start_s"],
         "session.warmup_s": session["warmup_s"],
         "session.peak_rss_mb": session["peak_rss_mb"]}
    busy = sum(s.wall_s for s in spans)
    m["workload.rows_per_s"] = sum(s.rows for s in spans) / busy if busy else 0.0
    m["workload.driver_bound"] = (
        sum(s.driver_gap_s for s in spans) / busy if busy else 0.0)

    plans, execs = by("api"), by("analytics")
    reqs = list(zip(plans, execs))
    m["analytics.plan_ms"] = _med(s.wall_s * 1000 for s in plans)
    m["analytics.exec_ms"] = _med(s.wall_s * 1000 for s in execs)
    m["analytics.eager_jobs"] = _mean(s.jobs for s in plans)
    m["dashboard.jobs_per_req"] = _mean(p.jobs + e.jobs for p, e in reqs)
    m["dashboard.stages_per_req"] = _mean(p.stages + e.stages for p, e in reqs)
    m["dashboard.tasks_per_req"] = _mean(p.tasks + e.tasks for p, e in reqs)
    m["dashboard.exec_run_ms_per_req"] = _mean(
        (p.exec_run_s + e.exec_run_s) * 1000 for p, e in reqs)
    m["dashboard.driver_gap_ms"] = _med(
        (p.driver_gap_s + e.driver_gap_s) * 1000 for p, e in reqs)
    m["sources.input_bytes_per_req"] = _mean(
        p.input_bytes + e.input_bytes for p, e in reqs)

    batches = by("etl.pipeline", "batch")
    m["etl.pipeline.batch_s"] = _med(s.wall_s for s in batches)
    for name in ETL_CALLS:
        m[f"etl.pipeline.{name}_s"] = _med(
            s.wall_s for s in by("etl.pipeline", name))
    m["etl.pipeline.jobs_per_batch"] = _mean(s.jobs for s in batches)
    m["etl.pipeline.exec_run_s_per_batch"] = _mean(s.exec_run_s for s in batches)
    m["etl.pipeline.driver_gap_s_per_batch"] = _mean(
        s.driver_gap_s for s in batches)
    for key in ("prune_kept_ratio", "files_written", "bytes_written",
                "bytes_per_user_byte"):
        m[f"etl.pipeline.{key}"] = ctx.layer.get(key, 0.0)

    st = tracer.streams
    m["streaming.triggers"] = st.triggers
    for phase, ms in st.phase_ms.items():
        m[f"streaming.{phase}_ms"] = ms
    m["streaming.input_rows"] = st.input_rows
    m["streaming.state_rows"] = st.state_rows

    for name, prefix in CALL_PREFIX.items():
        calls = [s for s in spans if s.name == name]
        m[f"{prefix}.wall_s"] = _med(s.wall_s for s in calls)
        m[f"{prefix}.exec_run_s"] = _med(s.exec_run_s for s in calls)
        m[f"{prefix}.driver_gap_s"] = _med(s.driver_gap_s for s in calls)
        m[f"{prefix}.shuffle_read_bytes"] = _med(s.shuffle_read_bytes for s in calls)
        m[f"{prefix}.shuffle_write_bytes"] = _med(
            s.shuffle_write_bytes for s in calls)
        m[f"{prefix}.spill_bytes"] = _med(s.spill_bytes for s in calls)
        m[f"{prefix}.stages"] = _med(s.stages for s in calls)
    m["operators.dedup.candidate_to_verified_ratio"] = ctx.layer.get(
        "candidate_to_verified_ratio", 0.0)
    for key, prefix in (("minhash", "operators.dedup.minhash"),
                        ("ngram", "operators.dedup.ngram"),
                        ("simhash", "operators.simhash")):
        m[f"{prefix}.edit_recall"] = ctx.layer.get(f"{key}.edit_recall", 0.0)

    m["functions.concurrency.jobs_unattributed"] = sum(
        s.jobs_unattributed for s in spans)
    m["fixtures.warm_calls"] = sum(1 for s in spans if s.warm_caches)
    m["trace.overhead_ratio"] = tracer.traced_overhead_s() / measured_s
    return m


def vs_untraced(path: str, latencies: list[float], measured_s: float) -> dict:
    """The traced run's latency and throughput over those of the untraced
    run of the same workload and seed, when its record is there."""
    if not os.path.exists(path):
        return {"untraced_record": None}
    with open(path) as f:
        base = json.load(f)
    return {
        "untraced_record": os.path.basename(path),
        "p50_ratio": statistics.median(latencies)
        / statistics.median(base["latencies_s"]),
        "ops_per_s_ratio": (len(latencies) / measured_s)
        / (len(base["latencies_s"]) / base["measured_s"]),
    }


def driver_bound_table(spans) -> list[dict]:
    """Timed calls grouped by (layer, name), ranked by driver_gap / wall."""
    groups: dict[tuple[str, str], list] = {}
    for s in spans:
        groups.setdefault((s.layer, s.name), []).append(s)
    rows = []
    for (layer, name), ss in groups.items():
        wall = sum(s.wall_s for s in ss)
        gap = sum(s.driver_gap_s for s in ss)
        rows.append({
            "layer": layer, "call": name, "n": len(ss),
            "wall_s": round(wall, 4), "driver_gap_s": round(gap, 4),
            "driver_bound": round(gap / wall, 4) if wall else 0.0,
            "jobs": sum(s.jobs for s in ss),
            "jobs_unattributed": sum(s.jobs_unattributed for s in ss),
            "warm_caches": sorted({c for s in ss for c in s.warm_caches}),
        })
    rows.sort(key=lambda r: -r["driver_bound"])
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    spark = None
    try:
        env = pin_env(work)
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        # the program under test: fails here, before any result, when absent
        import spark_spotify  # noqa: F401
        from spark_spotify.session import get_spark

        from perfbench import gen
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, Ctx

        import_s = time.perf_counter() - t0

        workload = WORKLOADS[args.workload]()
        # set-up, from process start: imports, JVM launch and session,
        # seeded inputs, and the untimed warm-up pass
        session = {"import_s": import_s}
        spark = get_spark(f"perfbench-{args.workload}")
        session["start_s"] = time.perf_counter() - T_START
        ctx = Ctx(spark, None, work, args.seed)
        t0 = time.perf_counter()
        workload.stage(ctx)
        session["stage_s"] = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace), log)
        ctx.tracer = tracer
        t0 = time.perf_counter()
        workload.warmup(ctx)
        session["warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START
        calib = calibrate(spark)

        # measure whole units until the deadline is nearer than half a unit
        tracer.start_timed()
        latencies: list[float] = []
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        units = 0
        while True:
            latencies += workload.run_unit(ctx)
            units += 1
            elapsed = time.perf_counter() - t0
            if elapsed + elapsed / units / 2 >= args.seconds:
                break
        measured_s = elapsed
        steal = steal_share(ticks, cpu_ticks())
        tracer.close()

        t0 = time.perf_counter()
        workload.check(ctx)
        session["check_s"] = time.perf_counter() - t0
        # a failed check counts as a failed operation
        failed = min(tracer.attempted, tracer.failed + len(ctx.errors))
        for e in ctx.errors:
            log(f"check failed: {e}")
        session["peak_rss_mb"] = peak_rss_mb(spark)

        if args.trace:
            values = per_layer(ctx, tracer, session, measured_s)
        else:
            values = end_to_end(latencies, measured_s, setup_s)
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in wanted
        }
        table = driver_bound_table(tracer.timed()) if args.trace else []
        record = {
            "workload": args.workload,
            "why": next(w["why"] for w in spec["workloads"]
                        if w["name"] == args.workload),
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "measured_s": measured_s,
            "units": units,
            "latencies_s": latencies,
            "env": env,
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg": os.getloadavg(),
            "calibration_s": calib,
            "steal_share": steal,
            "input_hash": gen.input_hash(ctx.sf),
            "input_bytes": ctx.inputs.input_bytes,
            "setup_s": setup_s,
            "session": session,
            "errors": ctx.errors,
            "values": values,
            "driver_bound": table,
            "spans": [dict(vars(s), driver_gap_s=s.driver_gap_s)
                      for s in tracer.spans],
        }
        rec_dir = os.path.join(HERE, "records")
        os.makedirs(rec_dir, exist_ok=True)
        rec = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace%d.json")
        if args.trace:
            record["vs_untraced"] = vs_untraced(rec % 0, latencies, measured_s)
        with open(rec % args.trace, "w") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace:
            log("calls ranked by driver-bound fraction:")
            for r in table:
                log(f"  {r['driver_bound']:.3f}  {r['layer']}:{r['call']}"
                    f"  n={r['n']} wall={r['wall_s']}s jobs={r['jobs']}"
                    f" unattributed={r['jobs_unattributed']}")
        result = {
            "correct": not ctx.errors and tracer.failed == 0,
            "attempted": tracer.attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _shutdown(spark) -> None:
    """Stop the session and the JVM this process launched, and wait."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
