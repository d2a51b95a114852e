#!/usr/bin/env python3
"""KG-construction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload bulk_rdf --seed 1 --seconds 10 --trace 0

Workloads (see README.md): ``bulk_rdf``, ``crawl_checkpoint``,
``sparql_read``.  The run sets up ``SETUP_REPS`` times (median reported
as part of ``setup_s``), repeats the workload's operation for
``--seconds``, checks every output against the generator's ground truth
and prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ledger with ``--trace 1``.  A line starting
``perfbench`` before it records cpus, input properties, sample counts
and the hypervisor-steal fraction of the timed window.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

import harness
import workloads
from harness import WORK

SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_rdf", "crawl_checkpoint", "sparql_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def p90(xs: list[float]) -> float:
    """90th percentile once at least ten samples lie beyond it; with
    fewer samples, the highest percentile that has ten beyond it, and
    the median below twenty samples."""
    if len(xs) < 20:
        return statistics.median(xs)
    q = min(0.9, (len(xs) - 10) / len(xs))
    return statistics.quantiles(xs, n=100, method="inclusive")[round(100 * q) - 1]


def end_to_end(w, loop: dict, setup_s: float, sampler) -> dict:
    walls, whole = loop["walls"], workloads.passes(w, loop)
    out = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(t for t, _ in whole), "s"),
        "triples_per_s": (statistics.median(n / t for t, n in whole), "1/s"),
        "peak_rss_mb": (sampler.peak_mb, "MB"),
    }
    if w.name == "sparql_read":  # an operation is one query only there
        out.update({
            "query_p50_s": (statistics.median(walls), "s"),
            "query_p90_s": (p90(walls), "s"),
            "queries_per_s": (len(walls) / sum(walls), "1/s"),
        })
    return out


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "rdf_spark")):
        print("perfbench: rdf_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    harness.prepare_env(WORK)
    sys.path.insert(0, harness.ROOT)
    n_cpus = harness.cpus()
    tracer = harness.Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    t0 = time.monotonic()
    spark = harness.start_spark(WORK, n_cpus, event_log=bool(args.trace))
    start_s = time.monotonic() - t0
    try:
        w = workloads.WORKLOADS[args.workload](spark, args.seed, n_cpus, tracer)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.monotonic()
            with tracer.span("setup.prepare"):
                w.prepare()
            reps.append(time.monotonic() - t0)
        t0 = time.monotonic()
        with tracer.span("setup.warm"):
            w.warm()
        warm_s = time.monotonic() - t0
        setup_s = start_s + statistics.median(reps) + warm_s
        # the ground truth held in this process is never garbage: keep
        # the collector from rescanning it during the timed loop
        gc.collect()
        gc.freeze()
        with harness.Sampler() as sampler:
            loop = workloads.timed_loop(w, args.seconds, tracer)
        w.finish()
        metrics = end_to_end(w, loop, setup_s, sampler)
        if args.trace:
            import ledger

            metrics = ledger.run(w, loop, tracer)
    finally:
        harness.stop_spark(spark)
    if args.trace:
        metrics.update(ledger.from_event_log(WORK, w, loop))
        print("perfbench-ledger " + json.dumps(
            {k: {"value": v, "unit": u, "layer": ledger.LEDGER[k][1],
                 "moves": ledger.LEDGER[k][2]} for k, (v, u) in sorted(metrics.items())}))
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    failed = sum(1 for o in loop["outs"] if o < 0)
    record = {
        "workload": args.workload, "seed": args.seed, "cpus": n_cpus,
        "input": w.corpus.properties(), "ops": len(loop["walls"]),
        "op_walls_s": [round(t, 3) for t in loop["walls"]],
        "setup_reps_s": [round(r, 4) for r in reps], "session_start_s": round(start_s, 4),
        "warm_s": round(warm_s, 4),
        "steal_frac": round(sampler.steal_frac, 4), "failures": w.failures[:10],
    }
    print("perfbench " + json.dumps(record))
    print(json.dumps({
        "correct": not w.failures,
        "attempted": len(loop["walls"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
