"""sketch_spark benchmark: one workload, one run.

    python3 perfbench/run.py --workload corpus_emerging --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Starts a local[nproc] Spark session
through ``sketch_spark.session.get_spark`` from this one client
process, generates the workload's input from ``--seed``, measures for
``--seconds``, checks every output, writes a result file with its
provenance under ``perfbench/.work/results/`` and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` also runs a traced phase from a new JVM
and reports its per-layer metrics, taken from spans around the
benchmark's calls into each layer, from Spark's job and stage accounting
and from in-process kernel timings.  Exits 1 when
an output check fails, 2 when the checkout has no ``sketch_spark``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAYERS = ["session", "sources", "text", "core", "aggregate", "emerging", "dedup", "streaming"]


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the
    JVM and every process under it (the Python workers) have ended.
    The next session launches a new JVM."""
    from pyspark import SparkContext

    from harness import end_descendants

    gateway = SparkContext._gateway
    try:
        spark.stop()  # fails when a signal cut a call into the JVM short
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.terminate()
            proc.wait(timeout=60)
            end_descendants()  # the JVM's orphaned workers


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "sketch_spark")):
        print("perfbench: no sketch_spark package beside perfbench/; run it from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import become_subreaper, end_descendants

    # a SIGTERM unwinds through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    try:
        return run(argv)
    finally:
        end_descendants()


def run(argv) -> int:
    from harness import Bench, RssSampler, prepare_environment, provenance, write_result

    prepare_environment(WORK)
    args = parse_args(argv)
    end_units, layer_units = declared_metrics()

    from kernels import REFERENCE_CMCU_MUPD_PER_S
    from sparkstats import SparkAccounting
    from tracing import Tracer, layer_self_times
    from workloads import WORKLOADS

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, WORK)
    tracer = Tracer(bench.trace)
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace}
    w = WORKLOADS[args.workload](bench, tracer)
    t0 = time.perf_counter()
    record["input"] = w.generate()  # before the session: not set-up, not peak RSS
    record["input"]["generation_s"] = time.perf_counter() - t0
    try:
        # set-up: JVM launch, get_spark, package ship, Python worker start
        setup_s = bench.start(tracer)
        with RssSampler() as rss:
            bench.rss = rss
            t0 = time.perf_counter()
            w.run(traced=False)
            record["loop_s"] = time.perf_counter() - t0
            if bench.trace:
                # the traced phase: from a new JVM, so that its iterations
                # warm up as the untraced phase's did, with the status UI on
                stop_spark(bench.spark)
                bench.spark = None
                record["traced_setup_s"] = bench.start(tracer, ui=True)
                w.acct = SparkAccounting(bench.spark)
                t0 = time.perf_counter()
                w.run(traced=True)
                record["traced_loop_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            w.check()
            record["check_s"] = time.perf_counter() - t0
            e2e = {"setup_s": setup_s, **w.end_to_end(), "peak_rss_mb": w.peak_rss_mb()}
            record["warmup_iteration_s"] = w.timed.warm_s()
            record["walls_s"] = w.timed.walls
            record["report"] = w.report()
            if bench.trace:
                layers = probes_and_accounting(w)
                record["report"]["trace.overhead_s"] = w.tracing_overhead()
                record["report"]["core.cmcu_update_mupd_per_s"] = {
                    "value": layers["core.cmcu_update_mupd_per_s"],
                    "reference_mupd_per_s": REFERENCE_CMCU_MUPD_PER_S,
                    "reference": "BASELINE.md single-thread C++ reference; not re-measured, "
                                 "the reference binary is not built here",
                }
                record["report"]["spark_per_call"] = w.acct.breakdown()
                self_times = layer_self_times(tracer.spans)
                layers.update({f"self.{k}_s": self_times.get(k, 0.0) for k in LAYERS})
                record["self_times_s"] = self_times
                tracer.write(os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json"))
            record["provenance"] = provenance(bench)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
    if bench.trace:
        metrics, units = layers, layer_units
    else:
        metrics, units = e2e, end_units
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    record["metrics"] = metrics
    record["run_peak_rss_mb"] = rss.peak / 2**20
    record["attempted"], record["failed"], record["failures"] = bench.attempted, bench.failed, bench.failures
    record["failed_ops_ratio"] = bench.failed / max(1, bench.attempted)
    path = write_result(bench, record)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  nproc {os.cpu_count()}")
    print(f"session settings: {json.dumps(record['provenance']['session_conf'], sort_keys=True)}")
    for name, item in record["report"].items():
        print(f"  {name:24s} {json.dumps(item)}")
    print(f"  {'failed_ops_ratio':24s} {record['failed_ops_ratio']:.4f} ratio "
          f"({bench.failed} of {bench.attempted} operations)")
    for reason in bench.failures:
        print(f"  FAILED {reason}")
    print(f"result file: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0 if bench.failed == 0 else 1


def probes_and_accounting(w) -> dict[str, float]:
    import probes

    layers = probes.layer_metrics(w)
    w.acct.fill_from_status_api()
    spark_rows = [w.acct.summary(label) for label in w.spark_labels()]
    layers.update({k: sum(r[k] for r in spark_rows) for k in spark_rows[0]})
    layers["trace.overhead_s"] = w.tracing_overhead()["value"]
    return layers


if __name__ == "__main__":
    sys.exit(main())
