"""End-to-end pipeline runs with firebolt-style exact count assertions
(the model of reference inttest/integration_test.go:28-112: deterministic
success/filtered/error splits)."""

from __future__ import annotations

import datetime
import json

import pytest
import yaml
from pyspark.sql import functions as F

from firebolt_spark import Pipeline
from firebolt_spark import config as cfg
from firebolt_spark.catalog import load_table
from firebolt_spark.errors import split_errors
from firebolt_spark.operators.sync import PythonMapNode

PIPELINE_YAML = """
application: e2e
source:
  name: parquet
  params: {path: "%(path)s"}
nodes:
  - name: filter
    id: keep
    params: {predicate: "NOT startswith(event_type, 'filter')"}
    children:
      - name: raise_when
        id: errsplit
        params: {predicate: "startswith(event_type, 'err')", message: "'so erroneous'"}
        error_handler:
          name: error_kafka_producer
          id: dlq
          params: {topic: errors}
        children:
          - name: project
            id: proj_a
            params: {exprs: ["event_id", "value"]}
          - name: project
            id: proj_b
            params: {exprs: ["event_id", "event_type"]}
"""


def test_counts_split_exactly(spark, sf_dir):
    src = load_table(spark, sf_dir, "events")
    total = src.count()
    n_err = src.filter("startswith(event_type, 'err')").count()

    p = Pipeline.from_yaml(PIPELINE_YAML % {"path": f"{sf_dir}/events.parquet"})
    res = p.run_batch(spark, source_df=src)

    assert res.outputs["keep"].count() == total  # no 'filter' types in fixture
    ok = res.outputs["errsplit"].count()
    dlq = res.outputs["dlq"].count()
    assert dlq == n_err
    assert ok + dlq == total  # total and disjoint (node.go:178-196)
    # replicated tree fan-out: both children see the identical parent set
    assert res.outputs["proj_a"].count() == ok
    assert res.outputs["proj_b"].count() == ok
    assert set(res.leaves) == {"dlq", "proj_a", "proj_b"}
    res.unpersist()


def test_multiple_root_nodes_each_see_full_source(spark, sf_dir):
    """The source feeds EVERY root node (executor.go:183-186 copies each
    event into all root channels)."""
    yaml_text = """
application: two-roots
source:
  name: parquet
  params: {path: "%(path)s"}
nodes:
  - name: filter
    id: root_a
    params: {predicate: "value >= 0"}
  - name: project
    id: root_b
    params: {exprs: ["event_id"]}
"""
    p = Pipeline.from_yaml(yaml_text % {"path": f"{sf_dir}/events.parquet"})
    res = p.run_batch(spark)
    total = load_table(spark, sf_dir, "events").count()
    assert res.outputs["root_b"].count() == total
    assert res.outputs["root_a"].count() == total
    assert set(res.leaves) == {"root_a", "root_b"}
    res.unpersist()


def test_dlq_event_error_json_shape(spark, sf_dir):
    src = load_table(spark, sf_dir, "events")
    p = Pipeline.from_yaml(PIPELINE_YAML % {"path": f"{sf_dir}/events.parquet"})
    res = p.run_batch(spark, source_df=src)
    row = res.outputs["dlq"].select(F.decode("value", "UTF-8").alias("j")).first()
    doc = json.loads(row["j"])
    # EventError envelope w/ ERR_UNKNOWN normalization (error.go:29-47)
    assert set(doc) == {"timestamp", "event", "error"}
    assert doc["error"]["code"] == "ERR_UNKNOWN"
    assert doc["error"]["message"] == "so erroneous"


def test_python_map_error_capture(spark):
    src = spark.createDataFrame(
        [(1, "ok"), (2, "boom"), (3, "drop"), (4, "fan")],
        "id INT, tag STRING",
    )

    def fn(row):
        if row["tag"] == "boom":
            raise ValueError("bad row")
        if row["tag"] == "drop":
            return None  # filter protocol
        if row["tag"] == "fan":
            return [{"id": row["id"], "tag": "f1"}, {"id": row["id"], "tag": "f2"}]
        return {"id": row["id"], "tag": row["tag"].upper()}

    node = PythonMapNode({"fn": fn, "schema": "id INT, tag STRING"})
    ok, dlq = split_errors(node.transform(src))
    got = {(r["id"], r["tag"]) for r in ok.collect()}
    assert got == {(1, "OK"), (4, "f1"), (4, "f2")}
    errs = dlq.collect()
    assert len(errs) == 1
    assert errs[0]["_error"]["code"] == "ERR_UNKNOWN"
    assert "bad row" in errs[0]["_error"]["message"]


def test_grouped_map_ema_and_error_capture(spark):
    """applyInPandas grouped operator: order-dependent per-group logic
    (EMA) with per-group error capture."""
    import pandas as pd

    from firebolt_spark.operators.sync import GroupedPandasNode

    src = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("boom", 1, 1.0)],
        "k STRING, seq INT, x DOUBLE",
    )

    def ema(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if key[0] == "boom":
            raise ValueError("bad group")
        pdf = pdf.sort_values("seq")
        pdf["ema"] = pdf["x"].ewm(alpha=0.5, adjust=False).mean()
        return pdf[["k", "seq", "ema"]]

    node = GroupedPandasNode(
        {"fn": ema, "keys": ["k"], "schema": "k STRING, seq INT, ema DOUBLE"}
    )
    ok, dlq = split_errors(node.transform(src))
    rows = {r["seq"]: r["ema"] for r in ok.filter("k = 'a'").collect()}
    assert rows == {1: 10.0, 2: 15.0, 3: 22.5}
    errs = dlq.collect()
    assert len(errs) == 1
    assert errs[0]["k"] == "boom" and "bad group" in errs[0]["_error"]["message"]


def test_with_payload_preserves_envelope(spark):
    from firebolt_spark.event import ensure_envelope, with_payload

    df = ensure_envelope(spark.createDataFrame([(1, "a")], "id INT, s STRING"))
    out = with_payload(df, n=F.col("id") * 2)
    assert set(out.columns) == {"created", "recovery", "n"}
    assert out.first()["n"] == 2


def test_discard_on_full_buffer_sheds_per_trigger(spark, sf_dir):
    """T3: a node with discard_on_full_buffer accepts at most
    `buffersize` rows per batch (reference node/node.go:206-211 drops
    events when the bounded channel is full; the micro-batch analogue
    is a per-trigger cap). Shed rows never reach children."""
    yaml_text = """
application: shed
source:
  name: parquet
  params: {path: "%(path)s"}
nodes:
  - name: project
    id: capped
    buffersize: 10
    discard_on_full_buffer: true
    params: {exprs: ["event_id"]}
    children:
      - name: project
        id: downstream
        params: {exprs: ["event_id"]}
  - name: project
    id: uncapped
    buffersize: 10
    params: {exprs: ["event_id"]}
"""
    src = load_table(spark, sf_dir, "events")
    total = src.count()
    assert total > 10
    p = Pipeline.from_yaml(yaml_text % {"path": f"{sf_dir}/events.parquet"})
    res = p.run_batch(spark, source_df=src)
    assert res.outputs["capped"].count() == 10
    assert res.outputs["downstream"].count() == 10  # shed before children
    # without the flag, buffersize stays advisory (config.go semantics)
    assert res.outputs["uncapped"].count() == total
    # release the multi-root source persist so the cached events scan
    # doesn't shadow later plan-shape tests (InMemoryRelation would
    # replace the parquet scan and hide PushedFilters)
    res.unpersist()


def test_parquet_sink_is_the_file_sink(spark, tmp_path):
    """``parquet_sink`` is ``file_sink`` with its default format: the
    batch walk hands the input on and writes nothing; the node's
    ``write`` writes parquet; native streaming hands the stream on."""
    out = tmp_path / "out"
    p = Pipeline.from_yaml(
        f"""
application: sinks
source: {{name: rate, params: {{}}}}
nodes:
  - name: parquet_sink
    id: pq
    params: {{path: "{out}"}}
"""
    )
    src = spark.createDataFrame([(i, f"r{i}") for i in range(5)], "id BIGINT, s STRING")
    res = p.run_batch(spark, source_df=src)
    assert res.outputs["pq"] is src
    assert not out.exists()
    p.roots[0].operator.write(res.outputs["pq"], 0)
    assert sorted(r.id for r in spark.read.parquet(str(out)).collect()) == list(range(5))
    stream = spark.readStream.format("rate").load()
    assert p.streaming_transform(spark, source_df=stream).outputs["pq"] is stream


_WIDE_LAMBDA = [f"{i} AS c{i}" for i in range(30)] + [
    "transform(array(1, 2), x -> x + event_id) AS t"
]


@pytest.mark.parametrize(
    "case, source, chain, persists",
    [
        # files -> filter -> regex parse: each branch recomputes it
        ("scan_filter_parse", "files", [
            {"name": "filter", "params": {"predicate": "value >= 0"}},
            {"name": "syslog_parser", "params": {"column": "event_type"}},
        ], False),
        ("rand", "files", [
            {"name": "project", "params": {"exprs": ["event_id", "rand() AS r"]}},
        ], True),
        # ensure_envelope stamps current_timestamp() as `created`
        ("memory_no_created", "memory", [
            {"name": "project", "params": {"exprs": ["id"]}},
        ], True),
        ("files_no_created", "files_no_created", [
            {"name": "project", "params": {"exprs": ["event_id"]}},
        ], True),
        # rows made in Python: each branch would re-run the RDD
        ("memory_created", "memory_created", [
            {"name": "project", "params": {"exprs": ["id"]}},
        ], True),
        ("python_map", "files", [
            {"name": "python_map", "params": {"schema": "event_id BIGINT"}},
        ], True),
        ("discard_on_full_buffer", "files", [
            {"name": "project", "params": {"exprs": ["event_id"]},
             "buffersize": 5, "discard_on_full_buffer": True},
        ], True),
        # 31 columns: plan text drops the lambda past maxToStringFields
        ("wide_lambda", "files", [
            {"name": "project", "params": {"exprs": _WIDE_LAMBDA}},
        ], True),
    ],
)
def test_fanout_prefix_persists_only_when_unsafe_or_costly(
    spark, sf_dir, case, source, chain, persists
):
    """A shared fan-out prefix is persisted only when ``_must_persist``
    says so; otherwise each branch recomputes it. Either way both
    children see the same rows."""
    path = f"{sf_dir}/events.parquet"
    sources = {
        "files": {"name": "parquet", "params": {"path": path, "created_col": "ts"}},
        "files_no_created": {"name": "parquet", "params": {"path": path}},
        "memory": {"name": "memory", "params": {"rows": [{"id": 1}, {"id": 2}]}},
        "memory_created": {"name": "memory", "params": {"rows": [
            {"id": i, "created": datetime.datetime(2026, 1, 1)} for i in (1, 2)
        ]}},
    }
    nodes = [{**n, "id": f"n{i}"} for i, n in enumerate(chain)]
    nodes[-1]["children"] = [
        {"name": "filter", "id": cid, "params": {"predicate": "true"}}
        for cid in ("a", "b")
    ]
    for parent, child in zip(nodes, nodes[1:]):
        parent["children"] = [child]
    conf = cfg.parse(yaml.safe_dump(
        {"application": case, "source": sources[source], "nodes": nodes[:1]}
    ))
    if case == "python_map":
        conf.nodes[0].params["fn"] = lambda row: {"event_id": row["event_id"]}
    res = Pipeline(conf).run_batch(spark)
    try:
        assert len(res.persisted) == (1 if persists else 0)
        a, b = (sorted(res.outputs[c].collect()) for c in ("a", "b"))
        assert a == b
        if source in ("memory", "files_no_created"):  # current_timestamp()
            assert a and len({r["created"] for r in a}) == 1
    finally:
        res.unpersist()
