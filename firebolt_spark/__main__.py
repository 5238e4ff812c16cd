"""CLI — run/validate/explain firebolt_spark pipelines.

    python -m firebolt_spark validate pipeline.yaml
    python -m firebolt_spark run pipeline.yaml [--show N] [--stream]
    python -m firebolt_spark explain pipeline.yaml [--node ID]

The CLI analogue of the reference's executor main (reference
examples/main.go): register types, read config, validate, execute.
``run`` writes each sink once (batch id 0); ``explain`` writes nothing.
Custom node types register via a plugins module named by
``--plugins mod`` exposing ``register(registry)``.
"""

from __future__ import annotations

import argparse
import importlib
import sys


def _build(args):
    from firebolt_spark import Pipeline, get_spark
    from firebolt_spark.registry import get_registry

    registry = get_registry()
    if args.plugins:
        importlib.import_module(args.plugins).register(registry)
    pipeline = Pipeline.from_file(args.config, registry)
    # get_spark re-tunes a live session: an in-process run/explain
    # overwrites the caller's confs
    spark = get_spark(app_name=pipeline.config.application)
    return spark, pipeline


def cmd_validate(args) -> int:
    from firebolt_spark import config as cfg
    from firebolt_spark.registry import get_registry

    registry = get_registry()
    if args.plugins:
        importlib.import_module(args.plugins).register(registry)
    pc = cfg.read(args.config)
    cfg.validate(pc, registry)
    n = sum(1 for _ in cfg._walk(pc.nodes))
    print(f"OK: {pc.application}: source={pc.source.name}, {n} nodes")
    return 0


def cmd_run(args) -> int:
    spark, pipeline = _build(args)
    if args.stream:
        from firebolt_spark.streaming.runner import StreamingPipelineRunner

        runner = StreamingPipelineRunner(
            pipeline, checkpoint_dir=args.checkpoint
        )
        query = runner.start(spark)
        print(f"streaming query started: {query.id}; Ctrl-C to stop")
        try:
            query.awaitTermination()
        except KeyboardInterrupt:
            query.stop()
        return 0
    from firebolt_spark.sinks import Written

    result = pipeline.run_batch(spark)
    written = pipeline.write_sinks(result, 0)
    for node_id in result.leaves:
        w = written.get(node_id)
        if isinstance(w, Written):  # forcing this sink's frame runs it again
            print(f"=== {node_id} ({w.rows} rows) ===")
            print(*w.sample[: args.show], sep="\n")
            continue
        df = result.outputs[node_id]
        print(f"=== {node_id} ({df.count()} rows) ===")
        df.show(args.show, truncate=False)
    return 0


def cmd_explain(args) -> int:
    spark, pipeline = _build(args)
    result = pipeline.run_batch(spark)  # plans only: writes nothing
    targets = [args.node] if args.node else result.leaves
    for node_id in targets:
        print(f"=== plan: {node_id} ===")
        result.outputs[node_id].explain("formatted")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="firebolt_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    for name, fn in (("validate", cmd_validate), ("run", cmd_run), ("explain", cmd_explain)):
        p = sub.add_parser(name)
        p.add_argument("config")
        p.add_argument("--plugins", default=None)
        p.set_defaults(fn=fn)
        if name == "run":
            p.add_argument("--show", type=int, default=20)
            p.add_argument("--stream", action="store_true")
            p.add_argument("--checkpoint", default=None)
        if name == "explain":
            p.add_argument("--node", default=None)
    args = parser.parse_args(argv)
    try:
        return args.fn(args)
    except Exception as exc:  # surface config errors cleanly, exit 2
        print(f"error: {exc}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    raise SystemExit(main())
