"""CLI surface: validate/run/explain over the example configs."""

from __future__ import annotations

import os

import pytest

from firebolt_spark.__main__ import main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(autouse=True)
def _restore_session_conf(request):
    """``run``/``explain`` build their session through ``get_spark``,
    whose ``getOrCreate`` re-applies every builder option to the live
    session the ``spark`` fixture shares with every later test file
    (shuffle partitions from ``SPARK_GRAFT_CPUS`` among them). Put back,
    or unset, every runtime conf a test here changed."""
    if "spark" not in request.fixturenames:
        yield
        return
    conf = request.getfixturevalue("spark").conf
    before = conf.getAll
    yield
    after = conf.getAll
    for k in before.keys() | after.keys():
        if before.get(k) == after.get(k) or not conf.isModifiable(k):
            continue
        if k in before:
            conf.set(k, before[k])
        else:
            conf.unset(k)


def test_validate_examples():
    for cfg in (
        "logging",
        "kafkatokafka",
        "corpus_dedup",
        "corpus_curation",
        "sql_lakehouse",
        "ann_search",
        "training_mix",
        "incremental_ingest",
        "data_selection",
    ):
        assert main(["validate", f"/root/repo/examples/{cfg}.yaml"]) == 0


def test_validate_missing_file_exits_2(capsys):
    assert main(["validate", "/nonexistent.yaml"]) == 2
    assert "error:" in capsys.readouterr().err


def test_validate_bad_config_exits_2(tmp_path, capsys):
    p = tmp_path / "bad.yaml"
    p.write_text("source: {name: bogus}\nnodes: []\n")
    assert main(["validate", str(p)]) == 2
    assert "not registered" in capsys.readouterr().err


def test_run_batch_example(spark, capsys):
    assert main(["run", "/root/repo/examples/kafkatokafka.yaml", "--show", "2"]) == 0
    out = capsys.readouterr().out
    assert "=== out (" in out and "rows)" in out


def test_run_sql_lakehouse_example_end_to_end(spark, capsys, tmp_path):
    """SqlNode + error handler + idempotent lakehouse sink through the
    CLI; run TWICE — the second run must replace, not append (the
    idempotence contract the example demonstrates)."""
    import shutil

    cfg = open("/root/repo/examples/sql_lakehouse.yaml").read().replace(
        "/tmp/firebolt_spark_demo/user_event_rollup", str(tmp_path / "tbl")
    )
    p = tmp_path / "pipeline.yaml"
    p.write_text(cfg)
    assert main(["run", str(p), "--show", "2"]) == 0
    out = capsys.readouterr().out
    assert "=== table (" in out and "=== error_topic (" in out
    first = spark.read.parquet(str(tmp_path / "tbl")).count()
    assert first > 0
    assert main(["run", str(p), "--show", "0"]) == 0
    assert spark.read.parquet(str(tmp_path / "tbl")).count() == first
    shutil.rmtree(tmp_path / "tbl", ignore_errors=True)


def test_explain_example(spark, capsys):
    assert main(["explain", "/root/repo/examples/logging.yaml", "--node", "docs"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out


SINKS_YAML = """
application: sinks
source: {{name: parquet, params: {{path: "{src}"}}}}
nodes:
  - name: filter
    id: keep
    params: {{predicate: "id >= 0"}}
    children:
      - name: file_sink
        id: files
        params: {{path: "{files}"}}
      - name: lakehouse_sink
        id: lake
        params: {{path: "{lake}"}}
"""


def test_run_batch_and_explain_write_nothing_run_writes_once(spark, capsys, tmp_path):
    """Building the tree writes nothing: ``run_batch`` (its outputs
    forced too) and ``explain`` leave both sink paths absent. ``run``
    writes each sink once, the lakehouse table as batch 0."""
    from firebolt_spark import Pipeline

    src, files, lake = (str(tmp_path / d) for d in ("src", "files", "lake"))
    spark.range(12).coalesce(3).write.parquet(src)
    cfg = tmp_path / "sinks.yaml"
    cfg.write_text(SINKS_YAML.format(src=src, files=files, lake=lake))

    result = Pipeline.from_file(str(cfg)).run_batch(spark)
    assert {n: df.count() for n, df in result.outputs.items()} == {
        "keep": 12, "files": 12, "lake": 12
    }
    result.unpersist()
    assert main(["explain", str(cfg)]) == 0
    assert "Physical Plan" in capsys.readouterr().out
    assert not os.path.exists(files) and not os.path.exists(lake)

    assert main(["run", str(cfg), "--show", "0"]) == 0
    out = capsys.readouterr().out
    assert "=== files (12 rows) ===" in out and "=== lake (12 rows) ===" in out
    assert spark.read.parquet(files).count() == 12
    assert [d for d in os.listdir(lake) if d.startswith("_batch_id")] == ["_batch_id=0"]
    assert spark.read.parquet(lake).count() == 12


def test_run_indexes_an_es_leaf_once(spark, capsys, tmp_path):
    """``run`` writes the Elasticsearch leaf once and prints the
    dead-letter count and sample that write returned: printing must not
    force the lazy indexing frame again."""
    from functools import partial

    from firebolt_spark.registry import get_registry
    from firebolt_spark.sinks.elasticsearch import ElasticsearchSink
    from tests.es_fakes import FileBackedBulkClient

    spool = str(tmp_path / "spool")
    get_registry().register_node_type(
        "spooled_elasticsearch",
        lambda params: ElasticsearchSink(
            {"batch_size": 5, "client_factory": partial(FileBackedBulkClient, spool)}
        ),
        None,
        None,
    )
    src = str(tmp_path / "docs")
    spark.range(12).selectExpr(
        "'logs' AS index", "CAST(id AS STRING) AS doc_id", "'{}' AS doc"
    ).coalesce(3).write.parquet(src)
    cfg = tmp_path / "es.yaml"
    cfg.write_text(
        f"""
application: es
source: {{name: parquet, params: {{path: "{src}"}}}}
nodes:
  - name: spooled_elasticsearch
    id: es
"""
    )
    assert main(["run", str(cfg), "--show", "5"]) == 0
    calls = os.path.join(spool, "calls")
    indexed = sum(int(open(os.path.join(calls, f)).read()) for f in os.listdir(calls))
    assert indexed == 12
    assert "=== es (0 rows) ===" in capsys.readouterr().out


@pytest.mark.parametrize(
    "argv",
    [["r0", "--suffix"], ["r0", "--suffix", "--all"], ["r0", "--suffix=--all"]],
)
def test_capture_plans_rejects_suffix_without_value(argv, capsys):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "capture_plans", os.path.join(REPO, "tools", "capture_plans.py")
    )
    capture_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(capture_plans)
    with pytest.raises(SystemExit) as exc:
        capture_plans.main(argv)
    assert exc.value.code == 2
    assert "--suffix" in capsys.readouterr().err


def test_bench_compact_summary_fits_driver_tail():
    """The bench harness's LAST stdout line must survive the driver's
    ~2 KB stdout-tail capture intact (round 16 — the "parsed": null
    fix): build the summary from a worst-case payload over the REAL
    suite query lists and pin the serialized size with headroom, so a
    future suite addition that silently pushes the line past the tail
    window fails here instead of in the next round's BENCH artifact."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "bench_mod", "/root/repo/bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    names = bench.HEADLINE + bench.EXTRA
    payload = {
        "value": 9999.999,
        "sf": 0.1,
        "runs": 3,
        "subtotal_r1_suite": 9999.999,
        "loadavg_start": [99.99, 99.99, 99.99],
        "queries": {n: 9999.99 for n in names},
        "normalized": {
            "suite_s": 9999.999,
            "by_probe": {
                "spark_shuffle_s": {
                    "suite_s": 9999.999, "host_speed_factor": 99.999
                }
            },
        },
        "shuffle_write_bytes": {n: 10**12 for n in names},
        "sf1": {
            "value": 9999.999,
            "ratio_vs_sf01": 99.99,
            "normalized_value": 9999.999,
            # worst-case per-query sf1 walls: 3-digit values so the
            # r18 sf1_walls array is pinned at its widest
            "queries": {n: 999.99 for n in names},
        },
        "errors": {n: "x" for n in names},
    }
    summary = bench._compact_summary(payload)
    line = json.dumps(summary, separators=(",", ":"))
    assert json.loads(line) == summary  # self-contained valid JSON
    assert len(line) < 1900, (
        f"compact bench summary is {len(line)} bytes — too close to the "
        "driver's ~2 KB stdout tail; trim per-query precision or move "
        "fields to the full payload"
    )
    # the fields a round-over-round comparison needs are all present
    for key in ("value", "subtotal_r1_suite", "normalized_suite_s",
                "spark_probe_norm_s", "queries", "shuffle_total_bytes",
                "sf1_value", "sf1_normalized_value", "sf1_walls",
                "n_errors"):
        assert key in summary, key
    # sf1_walls aligns 1:1 with the queries key order (r18)
    assert len(summary["sf1_walls"]) == len(summary["queries"])
