#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload image_pass --seed 1 --seconds 6 --trace 0

One client drives the engine in a closed loop: each op starts when the
previous one has finished and been checked. A run

1. records ``bench.contention_probe()`` (host noise stamp);
2. sets up ``SETUP_ROUNDS`` times: a new session, input registration
   and one warm-up op; ``setup_s`` is the median of the rounds. The
   first round also launches the JVM and builds or reuses the seeded
   input, which is not counted;
3. runs the workload's ``warm_ops`` further warm-up ops, untimed;
4. runs checked ops for ``--seconds`` and at least the workload's
   ``min_ops``, while sampling peak resident memory;
5. makes the workload's once-per-run check and stamps the host again.

With ``--trace 0`` it reports the end-to-end metrics of BENCHMARK.json.
With ``--trace 1`` the session serves the Spark status REST API, every
other op is traced (spans around calls into the package, each naming
its Spark jobs), single layers are probed once, and it reports the
per-layer metrics. Every run writes its full record, spans included, to
``.perfbench-work/records/``. Only the last stdout line is the result.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

SETUP_ROUNDS = 2
# a traced run reports no end-to-end metric; it skips the extra warm-up
# ops and times one plain and one traced op, so that it ends well inside
# the per-run time limit despite its probes and guest
TRACE_MIN_OPS = 1


def measure(wl, host, seconds: float, traced: bool) -> dict:
    import bench
    from harness import CORES, RssSampler, SparkStats, Tracer, median
    from workloads import TraceView

    rec: dict = {"errors": []}
    rec["probe_before_s"] = bench.contention_probe(workers=CORES, mb=16)

    ops = []  # every op run: (phase, wall seconds, ok, engine CPU seconds)

    def op(phase: str, tr) -> float:
        dt, cpu, errs = wl.run_op(host, spark, tr)
        ops.append((phase, dt, not errs, cpu))
        rec["errors"] += errs
        return dt

    # the first round also launches the JVM; building an absent input
    # happens inside it but is not counted
    setups, sessions = [], []
    for r in range(SETUP_ROUNDS):
        if r:
            host.stop_session()
        t0 = time.perf_counter()
        spark = host.start()
        t1 = time.perf_counter()
        if r == 0:
            wl.generate(spark)
            gen = time.perf_counter() - t1
            rec["boot_s"] = t1 - t0
        wl.register(spark)
        t2 = time.perf_counter()
        warm = op("warmup", Tracer(wl.name))
        sessions.append(t1 - t0)
        setups.append(t2 - t0 - (gen if r == 0 else 0.0) + warm)

    for _ in range(0 if traced else wl.warm_ops):
        op("warmup", Tracer(wl.name))

    tracer = Tracer(wl.name, spark)
    plain, traced_t, traced_ops = [], [], []
    with RssSampler(host) as rss:
        start = time.perf_counter()
        k = 0
        min_ops = TRACE_MIN_OPS if traced else wl.min_ops
        while (len(plain) < min_ops or len(traced_t) < min_ops * traced
               or time.perf_counter() - start < seconds):
            tracer.enabled = traced and k % 2 == 1
            tracer.op = str(k)
            dt = op("traced" if tracer.enabled else "measured", tracer)
            if tracer.enabled:
                traced_t.append(dt)
                traced_ops.append(str(k))
            else:
                plain.append(dt)
            k += 1
    tracer.enabled = False
    rec["run_check_errors"] = wl.run_check(spark)

    half = len(plain) // 2
    rec.update({
        "workload": wl.name, "seed": wl.seed, "trace": int(traced),
        "setup_rounds_s": setups, "session_s": sessions,
        "ops": ops, "rows_per_op": wl.rows_per_op,
        # within-run drift: second-half median over first-half median
        "drift_frac": median(plain[-half:]) / median(plain[:half]) - 1 if half else 0.0,
        "generate_s": wl.meta["generate_s"],
    })
    op_s = median(plain)
    metrics = {
        "setup_s": median(setups),
        "op_s": op_s,
        "rows_per_s": wl.rows_per_op / op_s,
        "peak_rss_mb": rss.peak_mb,
    }
    if traced:
        tracer.enabled, tracer.op = True, "probe"
        rec["run_check_errors"] += wl.probe(spark, tracer)
        guest = wl.guest(wl.seed) if wl.guest else None
        if guest:
            guest.generate(spark)
            guest.register(spark)
            tracer.op = "guest"
            dt, cpu, errs = guest.run_op(host, spark, tracer)
            ops.append(("guest", dt, not errs, cpu))
            rec["errors"] += errs
            tracer.op = "probe"
            rec["run_check_errors"] += guest.probe(spark, tracer)
        tracer.enabled = False
        stats = SparkStats(spark)
        view = TraceView(tracer, stats, traced_ops)
        c = view.counters()
        metrics = {
            "session.get_spark_s": median(sessions[1:]),
            "session.boot_s": rec["boot_s"],
            "datagen.generate_s": wl.meta["generate_s"],
            "trace.op_s": median(traced_t),
            "trace.plain_op_s": op_s,
            "op.jobs": c["jobs"],
            "op.driver_gap_s": c["driver_gap_s"],
            **{f"spark.{k}": c[k] for k in (
                "executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "input_mb", "tasks", "failed_tasks")},
            **wl.layer_metrics(view),
            **(guest.layer_metrics(TraceView(tracer, stats, ["guest"])) if guest else {}),
        }
        rec["spans"] = tracer.spans
        rec["jobs"] = [
            {k: j.get(k) for k in ("jobId", "jobGroup", "t0", "t1", "stageIds", "status")}
            for j in view.stats.jobs
        ]
    rec["probe_after_s"] = bench.contention_probe(workers=CORES, mb=16)
    rec["metrics"] = metrics
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import assetdatavalidationtool_spark  # noqa: F401
        import bench  # noqa: F401
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (ImportError, OSError) as e:
        print(f"perfbench: the engine is not in this checkout: {e}", file=sys.stderr)
        return 2

    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    harness.prepare_environment()
    wl = WORKLOADS[args.workload](args.seed)
    host = harness.Host(wl.name, traced=bool(args.trace))
    try:
        rec = measure(wl, host, args.seconds, bool(args.trace))
    finally:
        host.close()

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {
        m["name"]: {"value": float(rec["metrics"].get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    records = harness.WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    path = records / f"{wl.name}-s{wl.seed}-t{args.trace}-{time.time_ns()}.json"
    path.write_text(json.dumps(rec, default=str))

    ops = rec["ops"]
    failed = sum(not o[2] for o in ops)
    timed = [o[1] for o in ops if o[0] == "measured"]
    print(
        f"perfbench {wl.name} seed={wl.seed} trace={args.trace}: "
        f"{len(timed)} timed ops, op_s quartiles "
        f"{[round(q, 3) for q in statistics.quantiles(timed, n=4)] if len(timed) > 1 else timed}, "
        f"warm-ups {[round(o[1], 3) for o in ops if o[0] == 'warmup']}, cpu {[round(o[3], 2) for o in ops]}, "
        f"drift {rec['drift_frac']:+.1%}, probes {rec['probe_before_s']}/{rec['probe_after_s']} s, "
        f"record {path.relative_to(ROOT)}"
    )
    for e in rec["errors"] + rec["run_check_errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not rec["run_check_errors"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
