"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload maint_cycle|llm_dedup_search \
        --seed N --seconds S --trace 0|1

Order of a run: session start, input generation and table build (setup),
an untimed warm-up block of every op type, then the timed closed loop
until ``--seconds`` of op time are measured (whole blocks). Outputs are
checked after every op, outside its timing.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
timed loop untraced, then the same number of blocks traced, then
untraced again, and reports the per-layer metrics from the traced
blocks plus ``trace.overhead_ratio`` (traced op time / mean untraced op
time, so warming between passes cancels); its spans go to
``.perfbench_work/traces/``.

The last line is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it holds every end-to-end figure of the run ("detail").
Exits 2 when the levi_spark package is not beside ``perfbench/``.
"""

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    "maint_cycle": "perfbench.maint_cycle:MaintCycle",
    "llm_dedup_search": "perfbench.llm_dedup_search:LlmDedupSearch",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "levi_spark", "__init__.py")):
        print(f"levi_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    harness.isolate_scratch(work)

    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, work: str) -> int:
    from perfbench import harness, tracing

    modname, clsname = WORKLOADS[args.workload].split(":")
    cls = getattr(importlib.import_module(modname), clsname)
    spark, get_spark_s, first_job_s = harness.start_session(
        work, f"perfbench-{args.workload}", cls.SESSION_CONF
    )
    session_s = time.perf_counter() - PROCESS_T0
    try:
        tracer = tracing.Tracer()
        if args.trace:
            tracer.instrument()
        rec = harness.Recorder(spark, tracer)
        wl = cls(spark, work, args.seed, rec, tracer)
        builds = []
        for _ in range(cls.BUILD_REPEATS):
            t0 = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(builds)

        t0 = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
        wl.start_measuring()
        t0 = time.perf_counter()
        blocks = harness.run_timed(rec, wl.block, args.seconds)
        timed_wall_s = time.perf_counter() - t0
        untraced = list(rec.records)
        overhead = None
        if args.trace:
            busy = [rec.busy]
            for traced in (True, False):
                tracer.active = traced
                harness.run_timed(rec, wl.block, args.seconds, blocks=blocks)
                busy.append(rec.busy)
            tracer.active = False
            untraced_s = (busy[0] + busy[2] - busy[1]) / 2
            overhead = (busy[1] - busy[0]) / untraced_s
        layers = wl.layer_metrics() if args.trace else {}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "blocks": blocks,
            "session_s": session_s,
            "build_s": builds,
            "warm_up_s": warm_up_s,
            "timed_wall_s": timed_wall_s,
            **harness.end_to_end(untraced),
            "op_ms": harness.median_ms_by_op(untraced),
            **wl.detail(),
        }
        jvm_rss = max([harness.peak_rss_mb(p) for p in harness.jvm_pids()] or [0.0])
    finally:
        t0 = time.perf_counter()
        harness.stop_session(spark)
        stop_s = time.perf_counter() - t0

    failed = sum(not r.ok for r in rec.records)
    if args.trace:
        layers.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.first_job_s": first_job_s,
                "session.driver_peak_rss_mb": harness.peak_rss_mb(),
                "session.jvm_peak_rss_mb": jvm_rss,
                "trace.overhead_ratio": overhead,
            }
        )
        # a layer the workload never calls reads 0
        metrics = {
            m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        traces = os.path.join(os.path.dirname(work), "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(
            os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            {"detail": detail, "metrics": metrics},
        )
        print(json.dumps({"self_time_s_by_layer": tracer.self_time_by_layer()}), file=sys.stderr)
    else:
        figures = {**detail, "setup_s": setup_s}
        metrics = {
            m["name"]: {"value": figures[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }

    total_s = time.perf_counter() - PROCESS_T0
    print(json.dumps({"detail": {**detail, "setup_s": setup_s, "stop_s": stop_s,
                                 "total_s": total_s}}))
    print(
        json.dumps(
            {
                "correct": rec.failures == 0,
                "attempted": len(rec.records),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
