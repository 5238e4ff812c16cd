"""Pipeline-level benchmark for firebolt_spark.

    python3 perfbench/run.py --workload logging_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's input from
``--seed``, builds the pipeline through ``Pipeline.from_yaml``, measures
for ``--seconds`` and checks every output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``perfbench/.out/``. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["logging_batch", "logging_stream", "corpus_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the self-test runs tiny sizes)")
    p.add_argument("--corrupt", action="store_true",
                   help="skew every expected count by one (self-test of the checks)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "firebolt_spark", "pipeline.py")):
        print(f"firebolt_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # the Python workers Spark forks must import the program and the
    # benchmark's null sink client; keep every temp file in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = work
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Run

    run = Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), scale=args.scale, corrupt=args.corrupt, work=work,
    )
    # a SIGTERM unwinds through the finally below, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    try:
        metrics = WORKLOADS[args.workload](run)
        if run.trace:
            metrics["trace.spans"] = len(run.tracer.spans)
            run.tracer.write(os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        try:
            run.stop_spark()
        finally:
            harness.stop_jvm()
            shutil.rmtree(work, ignore_errors=True)

    if run.trace:
        metrics = {k: (metrics.get(k, 0), u) for k, u in LAYER_UNITS.items()}
    print(f"workload {args.workload} seed {args.seed}: {run.info.get('input', '')}")
    print(f"session master={harness.MASTER} shuffle_partitions={harness.SHUFFLE_PARTITIONS} "
          f"nproc={os.cpu_count()} wall={time.perf_counter() - t0:.1f}s")
    for k, v in run.info.items():
        if k != "input":
            print(f"{k}: {v}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:34s} {value:14.6g} {unit}")
    failed_frac = run.failed / max(1, run.attempted)
    print(f"failed_frac {failed_frac:.6g} ({run.failed}/{run.attempted})")
    for m in run.mismatches[:20]:
        print(f"MISMATCH {m}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


# Units of the per-layer metrics; every name is emitted by every
# workload, 0 where the workload's tree has no such layer.
LAYER_UNITS = {
    "config.build_s": "s",
    "sources.scan_s": "s",
    "pipeline.prefix_s": "s",
    **{f"operators.{n}.{m}": u
       for n in ("parse", "docs", "build", "quality", "exact", "near", "lines")
       for m, u in (("self_s", "s"), ("rows_out", "count"))},
    "errors.dead_letters": "count",
    "sinks.elasticsearch.index_s": "s",
    "sinks.elasticsearch.bulk_calls": "count",
    "sinks.elasticsearch.docs": "count",
    "sinks.kafka_producer.encode_s": "s",
    "streaming.batch_s": "s",
    "streaming.sink_s": "s",
    "streaming.sweep_s": "s",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.rows_per_batch": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "shuffle.write_bytes": "bytes",
    "shuffle.corpus_write_bytes": "bytes",
    "dedup.exact_dups": "count",
    "dedup.near_pairs": "count",
    "dedup.near_below_threshold": "count",
    "gen.late_max_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


if __name__ == "__main__":
    sys.exit(main())
