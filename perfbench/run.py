"""Run one benchmark workload in this process and print its result.

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` untraced, its per-layer metrics
with ``--trace 1``.  A record of the run (machine, versions, counts, input
make-up, failed checks) is written to ``perfbench_out/``; a traced run
also writes its spans, counts, per-span self times and its overhead
against the untraced run of the same workload and seed, if one ran in
this checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import common  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import holi_search_engine_spark  # noqa: F401 - fail fast without the program

    trace = bool(args.trace)
    common.prepare_dirs()
    tracer = common.Tracer(trace)
    with tracer.span("session.jvm_start"):
        spark = common.start_spark(trace)
    try:
        with tracer.span("session.warmup"):
            # JVM task path and the Python worker pool, before any timing
            n = spark.sparkContext.defaultParallelism
            spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").count()
        probe = common.SparkProbe(spark) if trace else None
        ctx = workloads.Ctx(spark, args.seed, tracer, probe)
        res = workloads.Result()
        workloads.WORKLOADS[args.workload](ctx, res, T_PROCESS)
        res.e2e["peak_rss_mb"] = common.peak_rss_mb(spark)
        record = common.run_record(spark, args.workload, args.seed, trace)
    finally:
        common.stop_spark(spark)

    record.update({
        # one round per run; at these sizes it outlasts --seconds
        "round_exceeds_seconds": res.e2e["round_s"] >= args.seconds,
        "attempted": res.attempted, "failed": res.failed,
        "op_errors": res.op_errors, "check_failures": res.check_failures, "e2e": res.e2e, "info": res.info,
    })
    tag = f"{args.workload}_seed{args.seed}"
    if trace:
        res.layers["index_build.turns_per_s"] = res.info["build_turns_per_s"]
        res.layers["session.jvm_start_s"] = tracer.total("session.jvm_start")
        res.layers["corpus.generate_s"] = tracer.total("corpus.generate")
        res.layers["catalog.read_table_calls"] = tracer.counts.get("catalog.read_table_calls", 0)
        res.layers["catalog.write_s"] = tracer.total("catalog.write")
        res.layers["trace.probe_s"] = tracer.total("trace.probe")
        overhead = trace_overhead(args.workload, args.seed, res.e2e)
        record.update({
            "layers": res.layers, "overhead_vs_untraced": overhead,
            "counts": tracer.counts, "self_time_s": tracer.self_times(),
            "spans": tracer.spans,
        })
        write_json(f"trace_{tag}.json", record)
        names = spec["per_layer"]
        values = res.layers
    else:
        write_json(f"run_{tag}.json", record)
        names = spec["end_to_end"]
        values = res.e2e
    not_run = workloads.NOT_RUN[args.workload] if trace else frozenset()
    metrics = {}
    for m in names:
        v = values.get(m["name"], 0.0 if m["name"] in not_run else None)
        if v is None:
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    for line in res.op_errors[:20]:
        print(f"operation failed: {line}", file=sys.stderr)
    for line in res.check_failures[:20]:
        print(f"check failed: {line}", file=sys.stderr)
    print(json.dumps({
        "correct": not res.check_failures,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def trace_overhead(workload: str, seed: int, traced: dict) -> dict | str:
    """Traced end-to-end figures minus those of the untraced run of the
    same workload and seed in this checkout, or a note that none ran."""
    p = os.path.join(common.OUT, f"run_{workload}_seed{seed}.json")
    if not os.path.exists(p):
        return f"unmeasured: no untraced {workload} run of seed {seed} in this checkout"
    with open(p) as f:
        untraced = json.load(f)["e2e"]
    return {k: traced[k] - untraced[k] for k in traced if k in untraced}


def write_json(name: str, obj: dict) -> None:
    with open(os.path.join(common.OUT, name), "w") as f:
        json.dump(obj, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
