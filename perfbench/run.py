"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The run generates
its inputs from the seed (untimed), starts one Spark session on all
cores, builds the program-side initial state several times and keeps
the last, runs the workload's operations for about ``--seconds``,
checks every output against the generator's answer, and prints:

- one ``{"detail": ...}`` line with every figure the workload yields
  (perfbench/README.md defines them), ``setup_s`` and ``failed_share``
  among them;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``
  with the metrics BENCHMARK.json names: its ``end_to_end`` list with
  ``--trace 0``, its ``per_layer`` list with ``--trace 1``.

A traced run sets a Spark job group per benchmark call, writes Spark's
event log, and attributes jobs, task time and shuffle bytes to the
calls afterwards. Its own end-to-end figures are printed as
``trace.*``; the tracing overhead is their difference from an untraced
run (perfbench/steady.py --trace prints it). A per-layer metric of a
layer the workload does not exercise reads 0; a missing metric of a
layer it does exercise is an error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_ingestion_pipeline_spark"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2

    # everything the run writes stays inside the checkout
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Spark's Python workers import the package too: a driver-only
    # sys.path entry is not enough
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]
    os.makedirs(os.environ["TMPDIR"])

    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    spark = None
    try:
        g0 = time.perf_counter()
        wl = WORKLOADS[args.workload](work, args.seed, args.seconds)
        wl.generate()
        gen_s = time.perf_counter() - g0

        spark, session_s = harness.start_spark(work, bool(args.trace))
        tracer = harness.Tracer(spark, bool(args.trace))
        wl.attach(spark, tracer)
        reps = []
        for rep in range(wl.setup_reps):
            a = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - a)
            if rep == 0:
                a = time.perf_counter()
                wl.warm_up()
                warm_up_s = time.perf_counter() - a
        # process start to first timed operation (session start, warm-up,
        # initial state), less generation, with the repeated set-up of
        # the initial state counted once, at its median
        setup_s = (time.perf_counter() - T_PROCESS) - gen_s - sum(reps) + harness.median(reps)

        t_timed = time.time()
        a = time.perf_counter()
        wl.run_timed(args.seconds)
        timed_s = time.perf_counter() - a
        wl.check()
        check_s = time.perf_counter() - a - timed_s
        e2e = {k: {"value": v, "unit": u} for k, (v, u) in wl.e2e().items()}
        e2e["setup_s"] = {"value": setup_s, "unit": "s"}
        e2e["failed_share"] = {"value": wl.failed / max(1, wl.attempted), "unit": "ratio"}
        layers = wl.layers(None)
    finally:
        if spark is not None:
            harness.stop_spark(spark)

    if args.trace:
        log = harness.EventLog(os.path.join(work, "eventlog"))
        layers = wl.layers(log)
        tracer.spans = [s for s in tracer.spans if s["start"] >= t_timed]
        layers.update(harness.layer_spark_metrics(tracer, log, wl.prefixes))
        tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "gen_s": gen_s, "session_s": session_s,
                      "setup_reps_s": reps, "warm_up_s": warm_up_s, "timed_s": timed_s, "check_s": check_s,
                      "wall_s": time.perf_counter() - T_PROCESS, "detail": e2e, "errors": wl.errors}))

    metrics = {}
    if args.trace:
        for m in spec["per_layer"]:
            name = m["name"]
            prefix, _, rest = name.partition(".")
            if prefix == "trace":
                value = e2e[rest]["value"]
            elif name in layers:
                value = layers[name]
            elif prefix in wl.prefixes:
                print(f"perfbench: {args.workload} exercises {prefix} but yields no {name}", file=sys.stderr)
                return 3
            else:
                value = 0  # a layer this workload does not exercise
            metrics[name] = {"value": value, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
