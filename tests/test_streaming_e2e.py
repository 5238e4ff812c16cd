"""End-to-end: the reference's integration test, brokerless.

The reference proves its pipeline against real Kafka + Elasticsearch
(/root/reference/inttest/integration_test.go:28-112 over
inttest/testdata/testconfig.yaml): 100 records (90 syslog / 6 'filter
me' / 4 'error time') flow through two filter branches; the sync branch
dead-letters 4 errors to an error topic and produces 90 to the out
topic, the async branch produces 90 to its own topic and bulk-indexes
the 94 unfiltered docs into Elasticsearch.

This environment has no broker (VERDICT r4 #5 / r5 #5 fallback), so the
ONE fake here is the Kafka wire itself: ``DataStreamReader.format
("kafka")`` is monkeypatched to a file-backed stream serving the same
(key, value, partition, offset, timestamp) frame Spark's Kafka source
emits, honoring ``startingOffsets``. Everything else is the real code
path a production user runs:

    KafkaSource.load()  (real — options, frame projection, envelope)
      -> StreamingPipelineRunner.start()  (real foreachBatch runner,
         checkpointing, one-sweep metrics)
      -> Pipeline built from the testconfig.yaml analogue
      -> ElasticsearchSink bulk path (fake BulkClient, real batching)

with starting offsets computed by streaming.offsets.plan_assignment —
the same planner the S3/S4 components use.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamReader

from firebolt_spark import Pipeline
from firebolt_spark.streaming.offsets import (
    plan_assignment,
    starting_offsets_json,
)
from firebolt_spark.streaming.runner import StreamingPipelineRunner
from tests.es_fakes import FileBackedBulkClient

TOPIC = "firebolt-inttest"
SYSLOG = (
    "<191>2006-01-02T15:04:05.999999-07:00 host.example.org test: "
    '@cee:{"a":"b"}\n'
)
KAFKA_FRAME_DDL = (
    "key BINARY, value BINARY, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP"
)


def _produce_test_data(count: int = 100) -> list[tuple]:
    """The reference's produceTestData (integration_test.go:226-251):
    i%30==0 -> 'error time' (4 of 100), other i%10==0 -> 'filter me'
    (6), else syslog (90). Partition = i % 4 (near-even, like the
    non-sticky partitioner the reference configures)."""
    rows = []
    next_offset = {p: 0 for p in range(4)}
    base = datetime.datetime(2024, 1, 1)
    for i in range(count):
        if i % 30 == 0:
            payload = b"error time"
        elif i % 10 == 0:
            payload = b"filter me"
        else:
            payload = SYSLOG.encode()
        p = i % 4
        rows.append(
            (None, payload, p, next_offset[p], base + datetime.timedelta(seconds=i))
        )
        next_offset[p] += 1
    return rows


class _FileBackedKafkaReader:
    """Stands in for DataStreamReader after .format('kafka'): absorbs
    the real KafkaSource's options and serves the frames from parquet,
    honoring per-partition startingOffsets like a broker would."""

    def __init__(self, spark, frames_dir: str):
        self.spark = spark
        self.frames_dir = frames_dir
        self.options: dict[str, str] = {}

    def option(self, key, value):
        self.options[str(key)] = value
        return self

    def load(self, path=None):
        df = self.spark.readStream.schema(KAFKA_FRAME_DDL).parquet(self.frames_dir)
        so = self.options.get("startingOffsets")
        if so and so not in ("earliest", "latest"):
            cond = None
            for p, o in json.loads(so)[TOPIC].items():
                c = (F.col("partition") == int(p)) & (F.col("offset") >= int(o))
                cond = c if cond is None else (cond | c)
            df = df.filter(cond)
        return df


# the testconfig.yaml analogue (reference inttest/testdata/
# testconfig.yaml): sync branch filter -> error split (DLQ to error
# topic) -> produce; async branch filter -> [error split -> produce,
# index-request build -> elasticsearch]
E2E_YAML_TEMPLATE = """
application: inttest-e2e
source:
  name: kafka
  params:
    brokers: localhost:9092
    topic: firebolt-inttest
    starting_offsets: {starting_offsets}
    max_offsets_per_trigger: 100000
nodes:
  - name: filter
    id: filternode
    params: {{predicate: "CAST(payload AS STRING) <> 'filter me'"}}
    children:
      - name: raise_when
        id: errornode
        params: {{predicate: "CAST(payload AS STRING) = 'error time'",
                 message: "'error time is not a valid event'"}}
        error_handler:
          name: error_kafka_producer
          id: errorkafkaproducer
          params: {{topic: firebolt-inttest-err}}
        children:
          - name: kafka_producer
            id: kafkaproducer
            params: {{topic: firebolt-inttest-out}}
  - name: filter
    id: asyncfilternode
    params: {{predicate: "CAST(payload AS STRING) <> 'filter me'"}}
    children:
      - name: raise_when
        id: asyncerrornode
        params: {{predicate: "CAST(payload AS STRING) = 'error time'",
                 message: "'error time is not a valid event'"}}
        children:
          - name: kafka_producer
            id: asynckafkaproducer
            params: {{topic: firebolt-inttest-out-async}}
      - name: project
        id: indexrequestbuilder
        params:
          exprs:
            - "'inttest' AS index"
            - "concat('doc-', partition, '-', offset) AS doc_id"
            - "CAST(payload AS STRING) AS body"
        children:
          - name: elasticsearch
            id: es
            params: {{batch_size: 25}}
"""


class _FileBackedKafkaBatchReader:
    """Batch twin of _FileBackedKafkaReader (spark.read path): honors
    startingOffsets AND endingOffsets per partition, like the bounded
    batch read Spark's Kafka source performs for a recovery backfill.
    Partitions absent from the startingOffsets JSON are not consumed
    (the recovery consumer subscribes to the skipped partitions only).
    """

    def __init__(self, spark, frames_dir: str):
        self.spark = spark
        self.frames_dir = frames_dir
        self.options: dict[str, str] = {}

    def option(self, key, value):
        self.options[str(key)] = value
        return self

    def load(self, path=None):
        df = self.spark.read.schema(KAFKA_FRAME_DDL).parquet(self.frames_dir)
        start = json.loads(self.options["startingOffsets"])[TOPIC]
        end = json.loads(self.options.get("endingOffsets", "{}")).get(TOPIC, {})
        cond = None
        for p, o in start.items():
            c = (F.col("partition") == int(p)) & (F.col("offset") >= int(o))
            if p in end:
                c = c & (F.col("offset") < int(end[p]))
            cond = c if cond is None else (cond | c)
        return df.filter(cond)


def test_recovery_backfill_through_real_kafka_batch_source(
    spark, tmp_path, monkeypatch
):
    """The reference's TestRecovery shape (integration_test.go:125-212),
    brokerless: data exists BEFORE startup, the lag cap skips most of
    it, the skipped range comes back as a bounded RECOVERY batch. Here
    the planner (plan_assignment), the real KafkaSource in batch mode
    (starting+ending offsets, recovery=True stamping), and the real
    Pipeline.run_batch all execute; only the wire is file-backed."""
    from pyspark.sql.readwriter import DataFrameReader

    from firebolt_spark.sources import KafkaSource
    from firebolt_spark.streaming.offsets import RecoveryRange

    frames_dir = str(tmp_path / "kafka-frames")
    spark.createDataFrame(_produce_test_data(100), KAFKA_FRAME_DDL).coalesce(
        1
    ).write.parquet(frames_dir)

    # pre-existing backlog: 25/partition, cap at 10 -> live starts at
    # high-10, the skipped [0, 15) per partition is filed for recovery
    high = {p: 25 for p in range(4)}
    starting, ranges = plan_assignment({}, high, max_partition_lag=10)
    assert starting == {p: 15 for p in range(4)}
    assert ranges == [RecoveryRange(p, 0, 15) for p in range(4)]

    real_format = DataFrameReader.format

    def fake_format(self, source):
        if source == "kafka":
            return _FileBackedKafkaBatchReader(spark, frames_dir)
        return real_format(self, source)

    monkeypatch.setattr(DataFrameReader, "format", fake_format)

    # one bounded backfill for partition 0's skipped range, through the
    # REAL KafkaSource batch path (recoveryconsumer.go:311-315 stamps
    # recovery=true; the bounded range is startingOffsets..endingOffsets)
    rng = ranges[0]
    src = KafkaSource(
        {
            "brokers": "localhost:9092",
            "topic": TOPIC,
            "batch": True,
            "recovery": True,
            "starting_offsets": {TOPIC: {str(rng.partition_id): rng.from_offset}},
            "ending_offsets": {TOPIC: {str(rng.partition_id): rng.to_offset}},
        }
    )
    backfill = src.load(spark)
    assert not backfill.isStreaming
    rows = backfill.collect()
    assert len(rows) == 15  # exactly the skipped range, bounded
    assert all(r["recovery"] for r in rows)  # recovery stamp rides along
    assert {r["partition"] for r in rows} == {0}
    assert {r["offset"] for r in rows} == set(range(15))

    # and the same operator tree the live path runs processes the
    # backfill. Partition 0 offsets 0..14 carry producer indices
    # i = 0,4,...,56: 'error time' at i%30==0 -> {0} (1 row),
    # 'filter me' at other i%10==0 -> {20, 40} (2 rows), 12 syslog.
    pipeline = Pipeline.from_yaml(
        E2E_YAML_TEMPLATE.format(
            starting_offsets=json.dumps({TOPIC: {"0": 0}})
        )
    )
    result = pipeline.run_batch(spark, source_df=backfill)
    assert result.outputs["filternode"].count() == 13  # 15 - 2 filtered
    assert result.outputs["errorkafkaproducer"].count() == 1  # dead-lettered
    assert result.outputs["kafkaproducer"].count() == 12


def test_file_backed_kafka_e2e_through_real_runner(spark, tmp_path, monkeypatch):
    frames_dir = str(tmp_path / "kafka-frames")
    spark.createDataFrame(_produce_test_data(100), KAFKA_FRAME_DDL).coalesce(
        1
    ).write.parquet(frames_dir)

    # offset planning through the real planner (kafkaconsumer.go:336-384
    # semantics): fresh group, lag under the cap -> start at committed,
    # nothing skipped, no recovery ranges
    high = {p: 25 for p in range(4)}
    starting, ranges = plan_assignment({}, high, max_partition_lag=100_000)
    assert ranges == []
    so_json = starting_offsets_json(TOPIC, starting)

    readers: list[_FileBackedKafkaReader] = []
    real_format = DataStreamReader.format

    def fake_format(self, source):
        if source == "kafka":
            reader = _FileBackedKafkaReader(spark, frames_dir)
            readers.append(reader)
            return reader
        return real_format(self, source)

    monkeypatch.setattr(DataStreamReader, "format", fake_format)

    pipeline = Pipeline.from_yaml(
        E2E_YAML_TEMPLATE.format(starting_offsets=json.dumps(so_json))
    )

    # the one concession to the missing infra: a spool-backed fake
    # BulkClient behind the REAL bulk/batch/retry/DLQ machinery
    spool = str(tmp_path / "es-spool")

    def walk(nodes):
        for rt in nodes:
            yield rt
            yield from walk(rt.children)
            if rt.error_handler is not None:
                yield rt.error_handler

    es_rt = next(rt for rt in walk(pipeline.roots) if rt.id == "es")
    es_rt.operator.client_factory = lambda: FileBackedBulkClient(spool_dir=spool)

    counts: dict[str, int] = {}

    def counting_sink(node_id):
        def sink(df, batch_id):
            counts[node_id] = counts.get(node_id, 0) + df.count()

        return sink

    runner = StreamingPipelineRunner(
        pipeline,
        sinks={
            nid: counting_sink(nid)
            for nid in ("kafkaproducer", "errorkafkaproducer",
                        "asynckafkaproducer", "es")
        },
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    query = runner.start(spark, trigger={"availableNow": True}, query_name="e2e")
    try:
        assert query.awaitTermination(120)
    finally:
        query.stop()

    # the real KafkaSource passed the planner's offsets to the "broker"
    assert readers, "KafkaSource never built a kafka reader"
    assert json.loads(readers[0].options["startingOffsets"]) == so_json
    assert readers[0].options["maxOffsetsPerTrigger"] == "100000"
    assert readers[0].options["subscribe"] == TOPIC

    # integration_test.go:28-112 expected counts
    assert counts["kafkaproducer"] == 90        # out topic
    assert counts["errorkafkaproducer"] == 4    # error topic (DLQ)
    assert counts["asynckafkaproducer"] == 90   # async out topic
    assert counts["es"] == 0                    # ES DLQ: no doc failures

    # elasticsearch: all 94 unfiltered docs indexed through the real
    # bulk path (94 = 90 syslog + 4 errors; errors are split from the
    # producer branch but the index branch is the filter's child)
    indexed = FileBackedBulkClient(spool_dir=spool).indexed_ids()
    assert len(indexed) == 94
    assert all(d.startswith("doc-") for d in indexed)

    # per-node metrics parity with the reference's channel counts:
    # filternode passes 94 (filters 6), each errornode errors 4,
    # errornode total across both uses = 8 (integration_test.go:103-104)
    m = runner.metrics
    assert m.rows_in == 100
    assert m.node("filternode").success == 94
    assert m.node("asyncfilternode").success == 94
    assert m.node("errornode").success == 90
    assert m.node("errornode").error == 4
    assert m.node("asyncerrornode").error == 4
    assert m.node("errornode").error + m.node("asyncerrornode").error == 8
    assert m.node("indexrequestbuilder").success == 94


# ---------------------------------------------------------------------------
# Streaming incremental dedup (VERDICT r6 "Next #5"): the 100 TB ingest
# loop in miniature — deltas stream in, each micro-batch is scored
# against the persisted signature index and its signatures are appended,
# with crash-restarts (new query, same checkpoint) between batches.
# ---------------------------------------------------------------------------

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()


def _doc_text(seed: int) -> str:
    """40 words with a seed-dependent rotation+stride — distinct seeds
    give near-disjoint shingle sets (stride over a 26-word vocab)."""
    return " ".join(
        _VOCAB[(seed * 7 + i * (1 + seed % 5)) % 26] for i in range(40)
    )


def test_streaming_incremental_dedup_with_crash_restarts(spark, tmp_path):
    """incremental_near_dups inside the real streaming runner path:
    ≥3 micro-batches over Structured Streaming foreachBatch, the
    signature index appended per batch, a 'crash' (query torn down, new
    query from the same checkpoint) between every two batches. Asserts
    (a) no batch is reprocessed after restart — no duplicate match
    pairs, no duplicate index signatures; (b) the index grows
    monotonically — later batches match against EARLIER batches' docs,
    not just the seed corpus; (c) every exact copy of an indexed doc is
    found at est_jaccard 1.0."""
    from firebolt_spark.operators.dedup import (
        incremental_near_dups,
        minhash_signatures,
    )

    delta_dir = tmp_path / "deltas"
    delta_dir.mkdir()
    index_dir = str(tmp_path / "sig-index")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt-incdedup")
    docs_ddl = "doc_id BIGINT, text STRING"

    # seed index: the historical corpus (doc_ids 0-9), computed batch-side
    seed_docs = spark.createDataFrame(
        [(i, _doc_text(i)) for i in range(10)], docs_ddl
    )
    minhash_signatures(seed_docs).write.parquet(index_dir)

    def ingest(batch_df, batch_id):
        # driver-side foreachBatch body — the same session reads the
        # index as-of this batch; matches are written BEFORE the delta's
        # signatures join the index (a doc never matches itself)
        index = spark.read.parquet(index_dir)
        matches, new_sig = incremental_near_dups(
            batch_df, index, threshold=0.5
        )
        matches.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(matches_dir)
        new_sig.write.mode("append").parquet(index_dir)
        new_sig.unpersist()

    def run_one_delta(rows):
        """Write one delta file, then run a NEW availableNow query from
        the shared checkpoint — the restart-after-crash path: committed
        batches are not re-served, only the new file forms a batch."""
        n_existing = len(list(delta_dir.glob("*.parquet")))
        spark.createDataFrame(rows, docs_ddl).coalesce(1).write.mode(
            "append"
        ).parquet(str(delta_dir))
        stream = spark.readStream.schema(docs_ddl).parquet(str(delta_dir))
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"inc-dedup-{n_existing}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    # batch A: two exact copies of seed docs 1 and 4 + three fresh docs
    run_one_delta(
        [(101, _doc_text(1)), (104, _doc_text(4)),
         (110, _doc_text(30)), (111, _doc_text(31)), (112, _doc_text(32))]
    )
    # batch B ("crash" happened between A and B): copy of seed doc 2 AND
    # copy of batch-A doc 110 — provable index monotonicity — + fresh
    run_one_delta(
        [(202, _doc_text(2)), (210, _doc_text(30)), (220, _doc_text(40))]
    )
    # batch C: copy of batch-B doc 220 + fresh
    run_one_delta([(320, _doc_text(40)), (330, _doc_text(41))])

    matches = spark.read.parquet(matches_dir).collect()
    pairs = {(r["new_doc_id"], r["index_doc_id"]) for r in matches}
    # (a) at-most-once per pair across the three queries: a reprocessed
    # batch would re-emit its pairs (and re-append its signatures)
    assert len(matches) == len(pairs)
    index = spark.read.parquet(index_dir)
    assert index.count() == 10 + 5 + 3 + 2  # seed + A + B + C, no re-appends
    assert index.select("doc_id").distinct().count() == index.count()
    # (b)+(c) exact copies found against seed AND against earlier deltas
    expected = {
        (101, 1), (104, 4),      # batch A vs seed
        (202, 2), (210, 110),    # batch B vs seed AND vs batch A
        (320, 220),              # batch C vs batch B
    }
    assert expected <= pairs
    perfect = {
        (r["new_doc_id"], r["index_doc_id"])
        for r in matches
        if r["est_jaccard"] == 1.0
    }
    assert expected <= perfect  # exact copies estimate at exactly 1.0
    # no spurious cross-pairs between near-disjoint docs
    assert all(r["est_jaccard"] >= 0.5 for r in matches)


def test_streaming_incremental_span_dedup_with_crash_restarts(spark, tmp_path):
    """incremental_dedup_spans inside the streaming ingest loop: three
    availableNow queries from one checkpoint (a 'crash' between every
    two), the span-digest index appended per batch. Asserts (a) no
    batch replays (index digests stay distinct), (b) spans admitted by
    EARLIER deltas scrub later ones — not just the seed corpus, and
    (c) the surviving text across all batches equals a one-shot
    dedup_spans over seed+deltas (keep-first by doc_id)."""
    from firebolt_spark.operators.dedup import (
        dedup_spans,
        doc_spans,
        incremental_dedup_spans,
    )

    delta_dir = tmp_path / "span-deltas"
    delta_dir.mkdir()
    index_dir = str(tmp_path / "span-index")
    out_dir = str(tmp_path / "span-out")
    ckpt = str(tmp_path / "ckpt-spandedup")
    ddl = "doc_id BIGINT, text STRING"
    K = 3

    seed = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i")], ddl
    )
    doc_spans(seed, K).select(F.md5("span").alias("digest")).distinct(
    ).write.parquet(index_dir)

    def ingest(batch_df, batch_id):
        index = spark.read.parquet(index_dir)
        deduped, new_digests = incremental_dedup_spans(
            batch_df, index, span_words=K
        )
        deduped.write.mode("append").parquet(out_dir)
        new_digests.write.mode("append").parquet(index_dir)
        from firebolt_spark.functions import release

        release(deduped)

    def run_one_delta(rows):
        n = len(list(delta_dir.glob("*.parquet")))
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(str(delta_dir))
        q = (
            spark.readStream.schema(ddl).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"span-dedup-{n}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    run_one_delta([(10, "a b c p q r"), (11, "s t u")])     # 'a b c' vs seed
    run_one_delta([(20, "p q r s t u x y z")])              # vs delta 1 only
    run_one_delta([(30, "x y z g h i j k l")])              # vs delta 2 + seed

    out = {r["doc_id"]: (r["n_kept"], r["text_dedup"])
           for r in spark.read.parquet(out_dir).collect()}
    assert out[10] == (1, "p q r")          # 'a b c' admitted by seed doc 1
    assert out[11] == (1, "s t u")
    assert out[20] == (1, "x y z")          # both earlier-delta spans scrubbed
    assert out[30] == (1, "j k l")          # delta-2 + seed spans scrubbed
    # (a) no replay: index digests unique
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.distinct().count()
    # (c) batch survivors == one-shot over the full ordered corpus
    all_docs = seed.union(spark.createDataFrame(
        [(10, "a b c p q r"), (11, "s t u"), (20, "p q r s t u x y z"),
         (30, "x y z g h i j k l")], ddl))
    oneshot = {r["doc_id"]: (r["n_kept"], r["text_dedup"])
               for r in dedup_spans(all_docs, span_words=K).collect()
               if r["doc_id"] >= 10}
    assert out == oneshot


def test_streaming_lsh_index_maintenance_with_crash_restarts(spark, tmp_path):
    """append_lsh_index inside the streaming ingest loop: an ANN index
    built from a seed corpus accretes embedding deltas via foreachBatch
    across three availableNow runs from one checkpoint (a 'crash'
    between every two). After the runs, probing the accreted index is
    row-identical to probing a from-scratch build over seed+deltas —
    the ingest loop never re-reads the historical corpus. foreachBatch
    is AT-least-once; passing its epoch id as batch_id makes replayed
    batches no-ops via the _batches sidecar, so each delta lands in the
    index once (r9 ADVICE)."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        ann_lsh_topk_from_index, append_lsh_index, build_lsh_index,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    seed = emb.filter(F.col("vec_id") < 300)
    deltas = [
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)),
        emb.filter(F.col("vec_id") >= 450),
    ]
    delta_dir = tmp_path / "emb-deltas"
    delta_dir.mkdir()
    idx_inc = str(tmp_path / "lsh_inc")
    ckpt = str(tmp_path / "ckpt-lsh")
    build_lsh_index(seed, idx_inc, planes=3, tables=2)

    def ingest(batch_df, batch_id):
        append_lsh_index(batch_df, idx_inc, batch_id=batch_id)

    for i, d in enumerate(deltas):
        d.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(emb.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"lsh-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    idx_full = str(tmp_path / "lsh_full")
    build_lsh_index(emb, idx_full, planes=3, tables=2)
    rows = lambda df: {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
                       for r in df.collect()}
    a = rows(ann_lsh_topk_from_index(spark, idx_inc, [0, 350, 460], k=10,
                                     probes=2))
    b = rows(ann_lsh_topk_from_index(spark, idx_full, [0, 350, 460], k=10,
                                     probes=2))
    assert a == b and a
    # exactly-once append: per-table row count equals the corpus size
    idx = spark.read.parquet(idx_inc)
    assert idx.filter(F.col("tbl") == 0).count() == emb.count()

    # round 13: the ingest loop's maintenance step — compaction folds
    # the per-append small files away with the probe row-identical,
    # the _batches ledger intact (a replayed epoch stays a no-op), and
    # further appends still landing cleanly
    from firebolt_spark.operators.similarity import (
        _applied_batches, compact_ann_index, count_index_files,
    )

    before = count_index_files(spark, idx_inc)
    compact_ann_index(spark, idx_inc)
    assert count_index_files(spark, idx_inc) < before
    assert rows(ann_lsh_topk_from_index(
        spark, idx_inc, [0, 350, 460], k=10, probes=2
    )) == a
    assert _applied_batches(spark, idx_inc) == {0, 1, 2}
    append_lsh_index(deltas[-1], idx_inc, batch_id=2)  # replay: no-op
    assert spark.read.parquet(idx_inc).filter(
        F.col("tbl") == 0
    ).count() == emb.count()


def test_streaming_winnow_index_maintenance_with_crash_restarts(spark, tmp_path):
    """append_winnow_index inside the streaming ingest loop (the text
    analogue of the LSH drill above): a winnow fingerprint index built
    from a seed corpus accretes document deltas via foreachBatch across
    three availableNow runs from one checkpoint (a 'crash' between
    every two). Probing dedup_spans_candidates with the accreted index
    is row-identical to a from-scratch build over seed+deltas — the
    ingest loop never re-winnows the historical corpus — and passing
    foreachBatch's epoch id as batch_id makes replayed batches no-ops
    via the staged commit protocol (round 11)."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.dedup import (
        append_winnow_index, build_winnow_index, dedup_spans_candidates,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    seed = docs.filter(F.col("doc_id") % 4 == 0)
    deltas = [docs.filter(F.col("doc_id") % 4 == k) for k in (1, 2, 3)]
    delta_dir = tmp_path / "doc-deltas"
    delta_dir.mkdir()
    idx_inc = str(tmp_path / "winnow_inc")
    ckpt = str(tmp_path / "ckpt-winnow")
    build_winnow_index(seed, idx_inc, span_words=3, window=4)

    def ingest(batch_df, batch_id):
        append_winnow_index(batch_df, idx_inc, batch_id=batch_id)

    for i, d in enumerate(deltas):
        d.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"winnow-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    idx_full = str(tmp_path / "winnow_full")
    build_winnow_index(docs, idx_full, span_words=3, window=4)
    key = lambda df: {r["doc_id"]: (r["n_kept"], r["text_dedup"])
                      for r in df.collect()}
    a = key(dedup_spans_candidates(docs, span_words=3, window=4,
                                   index_path=idx_inc))
    b = key(dedup_spans_candidates(docs, span_words=3, window=4,
                                   index_path=idx_full))
    assert a == b and a
    # exactly-once append: fingerprint row count equals the full build's
    # (fingerprints are per-doc, so accreted == one-shot)
    assert (spark.read.parquet(idx_inc).count()
            == spark.read.parquet(idx_full).count())


def test_streaming_temperature_mix_frozen_plan(spark, tmp_path):
    """The streaming temperature-mix contract (VERDICT r7 'Next #5',
    mixture.py): mix_plan aggregates its input, so a STREAM freezes a
    plan snapshot once and applies its thresholds per micro-batch via
    apply_mix_plan inside foreachBatch. Three availableNow runs from one
    checkpoint (crash between each); asserts the admitted row set
    equals the BATCH apply_mix_plan over the union of all deltas with
    the same frozen plan — i.e. the streaming path admits exactly the
    rows the batch operator would, row-for-row, across restarts."""
    from firebolt_spark.operators import mixture

    ddl = "doc_id BIGINT, lang STRING"
    salt = "smix"
    # snapshot corpus the plan is frozen from: en-heavy so the
    # root-downsample genuinely fires (en threshold < full space)
    snapshot = spark.createDataFrame(
        [(i, "en" if i % 4 else "de") for i in range(400)], ddl
    )
    plan = mixture.mix_plan(snapshot, "lang", alpha=0.5)
    plan_path = str(tmp_path / "mix-plan")
    plan.write.parquet(plan_path)  # the frozen artifact

    delta_dir = tmp_path / "mix-deltas"
    delta_dir.mkdir()
    out_dir = str(tmp_path / "mix-out")
    ckpt = str(tmp_path / "ckpt-mix")

    def ingest(batch_df, batch_id):
        frozen = spark.read.parquet(plan_path)
        mixture.apply_mix_plan(
            batch_df, frozen, "lang", "doc_id", salt
        ).write.mode("append").parquet(out_dir)

    def run_one_delta(rows):
        n = len(list(delta_dir.glob("*.parquet")))
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(ddl).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"mix-{n}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    deltas = [
        [(1000 + i, "en" if i % 3 else "de") for i in range(60)],
        [(2000 + i, "en") for i in range(60)],
        [(3000 + i, "de" if i % 2 else "en") for i in range(60)],
    ]
    for d in deltas:
        run_one_delta(d)

    streamed = {(r["doc_id"], r["lang"])
                for r in spark.read.parquet(out_dir).collect()}
    union = spark.createDataFrame(
        [r for d in deltas for r in d], ddl
    )
    batch = {(r["doc_id"], r["lang"])
             for r in mixture.apply_mix_plan(
                 union, spark.read.parquet(plan_path), "lang", "doc_id", salt
             ).collect()}
    assert streamed == batch
    # the mix genuinely fired: some en rows dropped, and no batch
    # replayed (admitted ids are unique because doc_ids are)
    assert len(streamed) < 180
    assert any(lang == "en" for _, lang in streamed)


def test_streaming_minhash_index_maintenance_with_crash_restarts(
    spark, tmp_path, wh_table
):
    """append_minhash_index inside the streaming ingest loop (round 11,
    the MinHash analogue of the winnow drill above): each micro-batch
    is scored against the durable index BEFORE being appended to it, so
    matches accumulate exactly as an in-memory index accreted in the
    same order would produce them — across three availableNow runs from
    one checkpoint (a 'crash' between every two). After the runs, a
    probe of the durable index equals the in-memory path over
    seed+deltas, and a manually REPLAYED append (at-least-once
    ingestion) leaves probe results exact via the appended-gated
    signature dedup."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.dedup import (
        append_minhash_index, build_minhash_index, incremental_near_dups,
        minhash_signatures,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    seed = docs.filter(F.col("doc_id") % 4 == 0)
    # each delta carries fresh docs PLUS relabeled copies of seed docs,
    # so cross-batch matches are guaranteed to exist
    deltas = [
        docs.filter(F.col("doc_id") % 4 == k).unionByName(
            seed.filter(F.col("doc_id") < 40).withColumn(
                "doc_id", F.col("doc_id") + 100000 * k
            )
        )
        for k in (1, 2, 3)
    ]
    tbl = wh_table("t_mh_stream")
    delta_dir = tmp_path / "mh-deltas"
    delta_dir.mkdir()
    out_dir = str(tmp_path / "mh-matches")
    ckpt = str(tmp_path / "ckpt-mh")

    def key(df):
        return {
            (r["new_doc_id"], r["index_doc_id"], round(r["est_jaccard"], 9))
            for r in df.collect()
        }

    try:
        build_minhash_index(seed, tbl, num_buckets=8)

        def ingest(batch_df, batch_id):
            # probe-then-append: the batch is scored against the index
            # state BEFORE it joins it (matches.write materializes the
            # probe first)
            matches, new_sigs = incremental_near_dups(
                batch_df, index_table=tbl
            )
            matches.write.mode("append").parquet(out_dir)
            append_minhash_index(new_sigs, tbl)
            new_sigs.unpersist()

        for i, d in enumerate(deltas):
            d.coalesce(1).write.mode("append").parquet(str(delta_dir))
            q = (
                spark.readStream.schema(docs.schema)
                .parquet(str(delta_dir))
                .writeStream.foreachBatch(ingest)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .queryName(f"mh-ingest-{i}")
                .start()
            )
            assert q.awaitTermination(120)
            q.stop()

        # expectation: the in-memory index accreted in the same order
        expected: set = set()
        acc = seed
        for d in deltas:
            m, _ = incremental_near_dups(d, minhash_signatures(acc))
            expected |= key(m)
            acc = acc.unionByName(d)
        assert key(spark.read.parquet(out_dir)) == expected and expected

        # post-run probe: durable index == in-memory over the full set
        probe = docs.filter(F.col("doc_id") < 20).withColumn(
            "doc_id", F.col("doc_id") + 2000000
        )
        got, _ = incremental_near_dups(probe, index_table=tbl)
        want, _ = incremental_near_dups(probe, minhash_signatures(acc))
        want_key = key(want)
        assert key(got) == want_key and want_key

        # at-least-once: a replayed append must not change probe results
        append_minhash_index(minhash_signatures(deltas[-1]), tbl)
        again, _ = incremental_near_dups(probe, index_table=tbl)
        assert key(again) == want_key
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_sig")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bands")


def test_streaming_shingle_index_maintenance_with_crash_restarts(
    spark, tmp_path, wh_table
):
    """append_shingle_index inside the streaming ingest loop (round 11
    — completes the maintenance-e2e symmetry with the winnow and
    MinHash drills above): a bucketed shingle index built from a seed
    corpus accretes document deltas via foreachBatch across three
    availableNow runs from one checkpoint (a 'crash' between every
    two). The indexed pairs over seed+deltas equal the in-session
    computation, and a manually REPLAYED append stays exact through
    the appended-gated defensive dedup."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.dedup import (
        append_shingle_index, build_shingle_index, ngram_jaccard_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    seed = docs.filter(F.col("doc_id") % 4 == 0)
    deltas = [docs.filter(F.col("doc_id") % 4 == k) for k in (1, 2, 3)]
    tbl = wh_table("t_sh_stream")
    delta_dir = tmp_path / "sh-deltas"
    delta_dir.mkdir()
    ckpt = str(tmp_path / "ckpt-sh")

    def key(df):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in df.collect()
        }

    try:
        build_shingle_index(seed, tbl, num_buckets=8)

        def ingest(batch_df, batch_id):
            append_shingle_index(batch_df, tbl)

        for i, d in enumerate(deltas):
            d.coalesce(1).write.mode("append").parquet(str(delta_dir))
            q = (
                spark.readStream.schema(docs.schema)
                .parquet(str(delta_dir))
                .writeStream.foreachBatch(ingest)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .queryName(f"sh-ingest-{i}")
                .start()
            )
            assert q.awaitTermination(120)
            q.stop()

        ref = key(ngram_jaccard_pairs(docs, max_df=0.5))
        assert key(ngram_jaccard_pairs(docs, max_df=0.5, shingle_index=tbl)) == ref
        # at-least-once: replay the last delta's append
        append_shingle_index(deltas[-1], tbl)
        assert key(ngram_jaccard_pairs(docs, max_df=0.5, shingle_index=tbl)) == ref
        # round 12: the ingest loop's maintenance step — compaction
        # reclaims the replayed duplicates and the build-only read
        # path, with the pair set still bit-identical
        from firebolt_spark.operators.dedup import (
            _shingle_index_props, compact_shingle_index,
        )

        compact_shingle_index(spark, tbl)
        assert "firebolt.appended" not in _shingle_index_props(spark, tbl)
        assert key(ngram_jaccard_pairs(docs, max_df=0.5, shingle_index=tbl)) == ref
    finally:
        for t in (tbl, f"{tbl}_cstage", f"{tbl}_cold"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_kmv_sketch_maintenance(spark, tmp_path):
    """kmv_sketch inside the streaming ingest loop: each micro-batch
    appends its per-language sketch ROWS to a sketch table; kmv_merge
    over the table equals the one-shot sketch of everything streamed —
    bit-identically — so corpus cardinalities stay current without
    ever re-reading history. Unlike the index appends, replays need NO
    batch_id machinery: merge unions distinct hashes, so appending the
    same batch's sketch twice is a mathematical no-op (asserted by
    replaying a batch)."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.functions import kmv_merge, kmv_sketch

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang"
    )
    batches = [
        docs.filter(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    delta_dir = tmp_path / "doc-deltas"
    delta_dir.mkdir()
    sketch_dir = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt-kmv")

    def ingest(batch_df, batch_id):
        kmv_sketch(
            batch_df, "doc_id", k=32, group_cols=["lang"], salt="st"
        ).write.mode("append").parquet(sketch_dir)

    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"kmv-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    def rollup():
        return {
            r["lang"]: r["kmv"]
            for r in kmv_merge(
                spark.read.parquet(sketch_dir), "kmv", k=32,
                group_cols=["lang"],
            ).collect()
        }

    one_shot = {
        r["lang"]: r["kmv"]
        for r in kmv_sketch(
            docs, "doc_id", k=32, group_cols=["lang"], salt="st"
        ).collect()
    }
    assert rollup() == one_shot

    # at-least-once is free: replay one batch's sketch append — the
    # merged rollup is unchanged (union of distinct hashes)
    kmv_sketch(
        batches[1], "doc_id", k=32, group_cols=["lang"], salt="st"
    ).write.mode("append").parquet(sketch_dir)
    assert rollup() == one_shot


def test_streaming_snapshot_diff_ledger_with_crash_restarts(spark, tmp_path):
    """snapshot_diff inside the streaming ingest loop (round 12 —
    VERDICT r11 Next #7): each micro-batch of upserts is diffed against
    the PERSISTED snapshot before being applied, producing the
    added/changed ledger an ingest audit needs, across three
    availableNow runs from one checkpoint (a 'crash' between every
    two). Both ledger and snapshot are written to batch-id-tagged dirs
    with overwrite, so an at-least-once replay of an epoch rewrites
    the same bytes instead of double-applying — asserted by replaying
    the last epoch by hand. Final snapshot == one-shot sequential
    application; each ledger == the directly-computed diff."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.functions import snapshot_diff

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    b0 = docs.filter(F.col("doc_id") < 50)
    b1 = docs.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 75)).select(
        "doc_id",
        F.when(F.col("doc_id") < 50, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    b2 = docs.filter(F.col("doc_id") < 10).select(
        "doc_id", F.concat(F.col("text"), F.lit(" v3")).alias("text")
    ).unionByName(
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 105))
    )
    batches = [b0, b1, b2]

    delta_dir = tmp_path / "upserts"
    delta_dir.mkdir()
    snap_root = tmp_path / "snap"
    ledger_root = tmp_path / "ledger"
    snap_root.mkdir()
    ledger_root.mkdir()
    ckpt = str(tmp_path / "ckpt-diff")

    def current_version(before: int) -> int | None:
        versions = [
            int(p.name[1:]) for p in snap_root.iterdir()
            if p.name.startswith("v") and int(p.name[1:]) < before
        ]
        return max(versions) if versions else None

    def read_snapshot(before: int):
        v = current_version(before)
        if v is None:
            return spark.createDataFrame([], "doc_id BIGINT, text STRING")
        return spark.read.parquet(str(snap_root / f"v{v}"))

    def ingest(batch_df, batch_id):
        old = read_snapshot(batch_id)
        new_snap = old.join(
            batch_df.select("doc_id"), "doc_id", "left_anti"
        ).unionByName(batch_df.select("doc_id", "text"))
        ledger = snapshot_diff(old, new_snap, ["doc_id"], ["text"])
        ledger.write.mode("overwrite").parquet(
            str(ledger_root / f"b{batch_id}")
        )
        new_snap.write.mode("overwrite").parquet(
            str(snap_root / f"v{batch_id}")
        )

    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(b0.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"diff-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    def ledger_counts(batch_id: int) -> dict[str, int]:
        rows = spark.read.parquet(str(ledger_root / f"b{batch_id}")).collect()
        out: dict[str, int] = {}
        for r in rows:
            out[r["status"]] = out.get(r["status"], 0) + 1
        return out

    assert ledger_counts(0) == {"added": 50}
    assert ledger_counts(1) == {"changed": 25, "added": 25}
    assert ledger_counts(2) == {"changed": 10, "added": 5}

    # final snapshot == one-shot sequential application
    snap = {r["doc_id"]: r["text"]
            for r in read_snapshot(10**9).collect()}
    expect = {}
    for b in batches:
        for r in b.collect():
            expect[r["doc_id"]] = r["text"]
    assert snap == expect

    # at-least-once: replay the LAST epoch by hand — ledger and
    # snapshot are rewritten identically, nothing double-applies
    ingest(b2, 2)
    assert ledger_counts(2) == {"changed": 10, "added": 5}
    assert {r["doc_id"]: r["text"]
            for r in read_snapshot(10**9).collect()} == expect


def test_streaming_frequent_items_rolling_with_crash_restarts(spark, tmp_path):
    """Rolling heavy hitters inside the streaming ingest loop (round 12
    — VERDICT r11 Next #7): each micro-batch's (lang, token) counts are
    SUMMED into a persisted count table (batch-sized work, history
    never re-read); the readout is frequent_items(pre_counted=True)
    over that table and must equal the one-shot heavy hitters of
    everything streamed — across three availableNow runs from one
    checkpoint (a 'crash' between every two), with version-tagged
    overwrites making an epoch replay a no-op."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.functions import frequent_items

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    batches = [toks.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    delta_dir = tmp_path / "tok-deltas"
    delta_dir.mkdir()
    counts_root = tmp_path / "counts"
    counts_root.mkdir()
    ckpt = str(tmp_path / "ckpt-hh")

    def read_counts(before: int):
        versions = [
            int(p.name[1:]) for p in counts_root.iterdir()
            if p.name.startswith("v") and int(p.name[1:]) < before
        ]
        if not versions:
            return spark.createDataFrame(
                [], "lang STRING, token STRING, cnt BIGINT"
            )
        return spark.read.parquet(str(counts_root / f"v{max(versions)}"))

    def ingest(batch_df, batch_id):
        batch_counts = batch_df.groupBy("lang", "token").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        merged = (
            read_counts(batch_id).unionByName(batch_counts)
            .groupBy("lang", "token")
            .agg(F.sum("cnt").alias("cnt"))
        )
        merged.write.mode("overwrite").parquet(
            str(counts_root / f"v{batch_id}")
        )

    schema = batches[0].schema
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"hh-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    def rolling():
        return sorted(
            map(tuple, frequent_items(
                read_counts(10**9), "token", k=5, group_cols=["lang"],
                pre_counted=True,
            ).collect())
        )

    one_shot = sorted(
        map(tuple, frequent_items(
            toks, "token", k=5, group_cols=["lang"]
        ).collect())
    )
    assert rolling() == one_shot and one_shot

    # replayed epoch: same version dir rewritten, rollup unchanged
    ingest(batches[2], 2)
    assert rolling() == one_shot

    # stream-level no-op restart (round 15 — VERDICT r14 Next #6): a
    # FOURTH availableNow run from the same checkpoint with no new
    # data must fire no epochs and leave the ledger + readout
    # untouched — the crash-restart==one-shot claim at the stream
    # layer, not just the manual-replay layer
    versions_before = sorted(p.name for p in counts_root.iterdir())
    q = (
        spark.readStream.schema(schema).parquet(str(delta_dir))
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName("hh-ingest-noop")
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    assert sorted(p.name for p in counts_root.iterdir()) == versions_before
    assert rolling() == one_shot


def test_streaming_rolling_quantiles_with_crash_restarts(spark, tmp_path):
    """Rolling EXACT quantiles inside the streaming ingest loop (round
    12 — the quantile twin of the heavy-hitters drill above): each
    micro-batch's per-(lang) n_chars value counts are summed into a
    persisted histogram table; group_quantiles(count_col=) over that
    table equals the one-shot quantiles of everything streamed —
    across three availableNow runs from one checkpoint (a 'crash'
    between every two), version-tagged overwrites making an epoch
    replay a no-op."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.functions import group_quantiles

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "n_chars"
    )
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    delta_dir = tmp_path / "len-deltas"
    delta_dir.mkdir()
    hist_root = tmp_path / "hist"
    hist_root.mkdir()
    ckpt = str(tmp_path / "ckpt-gq")

    def read_hist(before: int):
        versions = [
            int(p.name[1:]) for p in hist_root.iterdir()
            if p.name.startswith("v") and int(p.name[1:]) < before
        ]
        if not versions:
            return spark.createDataFrame(
                [], "lang STRING, n_chars BIGINT, cnt BIGINT"
            )
        return spark.read.parquet(str(hist_root / f"v{max(versions)}"))

    def ingest(batch_df, batch_id):
        batch_hist = batch_df.groupBy("lang", "n_chars").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        merged = (
            read_hist(batch_id).unionByName(batch_hist)
            .groupBy("lang", "n_chars")
            .agg(F.sum("cnt").alias("cnt"))
        )
        merged.write.mode("overwrite").parquet(str(hist_root / f"v{batch_id}"))

    schema = batches[0].schema
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"gq-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    qs = [0.25, 0.5, 0.9]

    def rolling():
        return sorted(map(tuple, group_quantiles(
            read_hist(10**9), "n_chars", qs, ["lang"], count_col="cnt"
        ).collect()))

    one_shot = sorted(map(tuple, group_quantiles(
        docs, "n_chars", qs, ["lang"]
    ).collect()))
    assert rolling() == one_shot and one_shot

    # replayed epoch: same version dir rewritten, readout unchanged
    ingest(batches[2], 2)
    assert rolling() == one_shot


def test_streaming_c4_pipeline_with_crash_restarts(spark, tmp_path):
    """The composed C4 pipeline through the ingest loop (round 13 —
    VERDICT r12 Next #5): each micro-batch is rule-filtered
    (c4_line_filter), then line-deduped against the PERSISTED
    line-digest ledger (incremental_dedup_lines), matching the batch
    q_c4_pipeline composition. Three availableNow runs from one
    checkpoint with a 'crash' between every two. Asserts (a) restarts
    reprocess nothing (one output row per surviving page, ledger
    digest-unique); (b) N-batch == one-shot: the streamed results
    equal dedup_lines over the full filtered corpus byte-for-byte;
    (c) the dedup is genuinely CROSS-batch — a boilerplate line
    arriving in batch A is stripped from batches B and C."""
    from firebolt_spark.functions import release
    from firebolt_spark.operators.dedup import (
        dedup_lines, incremental_dedup_lines,
    )
    from firebolt_spark.operators.text import c4_line_filter

    BOILER = "subscribe to our newsletter for daily updates."
    LATE_BOILER = "all rights reserved by the original author."

    def page(doc_id, extra_lines=(), good=True):
        lines = [
            f"unique sentence {doc_id} alpha {j} beta gamma delta here."
            for j in range(3)
        ]
        lines += list(extra_lines)
        lines += ["too short", "enable javascript to view this page now."]
        if not good:
            lines.append("function f() { return 0; }")  # page gate
        return (doc_id, "\n".join(lines))

    docs_ddl = "doc_id BIGINT, text STRING"
    batches = [
        # batch 0: boilerplate's FIRST occurrence + a dropped page
        [page(1, [BOILER]), page(2, [BOILER]), page(3, [], good=False)],
        # batch 1 (after a crash): boilerplate again + a new one
        [page(11, [BOILER, LATE_BOILER]), page(12, [])],
        # batch 2: both boilerplates, everything else fresh
        [page(21, [BOILER, LATE_BOILER]), page(22, [LATE_BOILER])],
    ]

    delta_dir = tmp_path / "c4-deltas"
    delta_dir.mkdir()
    ledger_dir = str(tmp_path / "line-ledger")
    out_dir = str(tmp_path / "c4-out")
    ckpt = str(tmp_path / "ckpt-c4")

    def ingest(batch_df, batch_id):
        cleaned = c4_line_filter(batch_df)
        kept = cleaned.filter(F.col("keep") == 1).select(
            "doc_id", F.col("text_clean").alias("text")
        )
        import os

        ledger = (
            spark.read.parquet(ledger_dir)
            if os.path.isdir(ledger_dir)
            else None
        )
        deduped, new_digests = incremental_dedup_lines(kept, ledger)
        deduped.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)
        new_digests.write.mode("append").parquet(ledger_dir)
        release(deduped)

    def run_one_delta(rows):
        n_existing = len(list(delta_dir.glob("*.parquet")))
        spark.createDataFrame(rows, docs_ddl).coalesce(1).write.mode(
            "append"
        ).parquet(str(delta_dir))
        stream = spark.readStream.schema(docs_ddl).parquet(str(delta_dir))
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"c4-{n_existing}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    for rows in batches:
        run_one_delta(rows)  # each run is a fresh query: crash between

    out = spark.read.parquet(out_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    # (a) no reprocessing: one row per surviving page (doc 3 dropped
    # by the page gate), ledger digest-unique
    assert set(rows) == {1, 2, 11, 12, 21, 22}
    assert out.count() == 6
    ledger = spark.read.parquet(ledger_dir)
    assert ledger.count() == ledger.distinct().count()

    # (b) N-batch == one-shot over the filtered corpus, byte-for-byte
    # (batches arrive in doc_id order, so keep-first agrees)
    full = spark.createDataFrame(
        [r for b in batches for r in b], docs_ddl
    )
    kept_full = c4_line_filter(full).filter(F.col("keep") == 1).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    one_shot = {r["doc_id"]: r for r in dedup_lines(kept_full).collect()}
    assert set(one_shot) == set(rows)
    for d in rows:
        got, want = rows[d], one_shot[d]
        assert (got["n_lines"], got["n_kept"], got["text_dedup"]) == (
            want["n_lines"], want["n_kept"], want["text_dedup"]
        ), f"doc {d} diverged from the one-shot pipeline"

    # (c) cross-batch dedup: BOILER survives only in doc 1 (batch 0),
    # LATE_BOILER only in doc 11 (batch 1)
    assert BOILER in rows[1]["text_dedup"]
    for d in (2, 11, 12, 21, 22):
        assert BOILER not in rows[d]["text_dedup"]
    assert LATE_BOILER in rows[11]["text_dedup"]
    for d in (21, 22):
        assert LATE_BOILER not in rows[d]["text_dedup"]

    # replayed epoch is a no-op on the OUTPUT contract: rerunning the
    # last availableNow query with no new delta forms no batch
    run_one_delta([])
    assert spark.read.parquet(out_dir).count() == 6


def test_streaming_quantile_sketch_maintenance(spark, tmp_path):
    """quantile_sketch inside the streaming ingest loop (round 13 —
    VERDICT r12 Next #6, the rank twin of the KMV drill above): each
    micro-batch appends its per-language sketch ROWS to a sketch
    table; quantile_sketch_merge over the table equals the one-shot
    sketch of everything streamed BIT-IDENTICALLY, and the quantile
    readout runs off the merged sketch without touching the corpus.
    Replays are mathematical no-ops (the merge unions distinct
    tickets), asserted by re-appending a batch's sketch."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.functions import (
        quantile_sketch, quantile_sketch_merge, quantile_sketch_quantiles,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "n_chars"
    )
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    delta_dir = tmp_path / "qsk-deltas"
    delta_dir.mkdir()
    sketch_dir = str(tmp_path / "qsk-sketches")
    ckpt = str(tmp_path / "ckpt-qsk")

    def ingest(batch_df, batch_id):
        quantile_sketch(
            batch_df, "n_chars", "doc_id", k=32, group_cols=["lang"],
            salt="st",
        ).write.mode("append").parquet(sketch_dir)

    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"qsk-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    def rollup():
        return quantile_sketch_merge(
            spark.read.parquet(sketch_dir), "qsk", k=32,
            group_cols=["lang"],
        )

    one_shot = {
        r["lang"]: r["qsk"]
        for r in quantile_sketch(
            docs, "n_chars", "doc_id", k=32, group_cols=["lang"], salt="st"
        ).collect()
    }
    merged = {r["lang"]: r["qsk"] for r in rollup().collect()}
    assert merged == one_shot and one_shot

    # the readout runs off the MERGED sketch rows alone (no corpus
    # scan) and matches the one-shot sketch's readout exactly
    readout = sorted(map(tuple, quantile_sketch_quantiles(
        rollup(), [0.25, 0.5, 0.9], group_cols=["lang"]
    ).collect()))
    one_shot_readout = sorted(map(tuple, quantile_sketch_quantiles(
        quantile_sketch(
            docs, "n_chars", "doc_id", k=32, group_cols=["lang"], salt="st"
        ),
        [0.25, 0.5, 0.9], group_cols=["lang"],
    ).collect()))
    assert readout == one_shot_readout

    # at-least-once is free: replay one batch's sketch append
    quantile_sketch(
        batches[1], "n_chars", "doc_id", k=32, group_cols=["lang"],
        salt="st",
    ).write.mode("append").parquet(sketch_dir)
    assert {r["lang"]: r["qsk"] for r in rollup().collect()} == one_shot


def test_streaming_priority_sketch_maintenance(spark, tmp_path):
    """priority_sketch inside the streaming ingest loop (round 13 —
    the weighted subset-sum twin of the quantile drill above): each
    micro-batch appends its per-language sketch ROWS to a sketch
    table; priority_sketch_merge over the table equals the one-shot
    sketch of everything streamed BIT-IDENTICALLY — sample AND tau —
    and the totals readout runs off the merged sketch without touching
    the corpus. Replays are mathematical no-ops, asserted by
    re-appending a batch's sketch."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.functions import (
        priority_sketch, priority_sketch_merge, priority_sketch_totals,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "n_chars"
    )
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    delta_dir = tmp_path / "psk-deltas"
    delta_dir.mkdir()
    sketch_dir = str(tmp_path / "psk-sketches")
    ckpt = str(tmp_path / "ckpt-psk")

    def ingest(batch_df, batch_id):
        priority_sketch(
            batch_df, "n_chars", "doc_id", k=16, group_cols=["lang"],
            salt="st",
        ).write.mode("append").parquet(sketch_dir)

    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(str(delta_dir))
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"psk-ingest-{i}")
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    def rollup():
        return priority_sketch_merge(
            spark.read.parquet(sketch_dir), "psk", k=16,
            group_cols=["lang"],
        )

    def snap(df):
        return {r["lang"]: (r["psk"], r["psk_tau"]) for r in df.collect()}

    one_shot = snap(priority_sketch(
        docs, "n_chars", "doc_id", k=16, group_cols=["lang"], salt="st"
    ))
    assert snap(rollup()) == one_shot and one_shot

    # the totals readout runs off the MERGED sketch rows alone (no
    # corpus scan) and estimates the true per-language totals; groups
    # the sketch holds whole (tau = 0) read back EXACT
    totals = {
        r["lang"]: r
        for r in priority_sketch_totals(
            rollup(), "psk", group_cols=["lang"]
        ).collect()
    }
    exact = {
        r["lang"]: float(r["s"])
        for r in docs.groupBy("lang").agg(F.sum("n_chars").alias("s"))
        .collect()
    }
    for lang, row in totals.items():
        if row["tau"] == 0.0:
            assert row["est_total_weight"] == exact[lang]
        else:
            assert abs(row["est_total_weight"] - exact[lang]) / exact[lang] < 0.5

    # at-least-once is free: replay one batch's sketch append
    priority_sketch(
        batches[1], "n_chars", "doc_id", k=16, group_cols=["lang"],
        salt="st",
    ).write.mode("append").parquet(sketch_dir)
    assert snap(rollup()) == one_shot


def test_streaming_media_features_with_crash_restart(spark, tmp_path):
    """The multimodal path inside the streaming ingest loop: each
    micro-batch encodes its documents as multi-frame GIFs, decodes
    them for REAL (extract_features, LZW and all), and appends the
    per-doc features to a feature table keyed by batch. The codec is
    stateless, so the contract under test is the plumbing: after a
    mid-run crash-restart the checkpoint replays exactly once per
    batch id, and the union of per-batch features equals the one-shot
    features of everything streamed, row for row."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators import multimodal

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(90)
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    delta_dir = tmp_path / "media-deltas"
    delta_dir.mkdir()
    feat_dir = str(tmp_path / "media-feats")
    ckpt = str(tmp_path / "ckpt-media")

    def ingest(batch_df, batch_id):
        feats = multimodal.extract_features(
            multimodal.gif_encode(batch_df), decode_stub=False
        ).withColumn("_batch_id", F.lit(batch_id))
        feats.write.mode("append").parquet(feat_dir)

    def run_stream(name):
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    batches[0].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("media-0")
    # crash between micro-batches: the second delta lands, the stream
    # restarts from the checkpoint and must process it exactly once
    batches[1].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("media-1-restarted")
    batches[2].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("media-2")

    streamed = spark.read.parquet(feat_dir)
    one_shot = multimodal.extract_features(
        multimodal.gif_encode(docs), decode_stub=False
    )
    got = sorted(map(tuple, streamed.drop("_batch_id").collect()), key=lambda t: t[0])
    exp = sorted(map(tuple, one_shot.collect()), key=lambda t: t[0])
    assert got == exp and len(got) == 90
    # each batch ran exactly once (no replay duplicates)
    per_batch = {
        r["_batch_id"]: r["n"]
        for r in streamed.groupBy("_batch_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert sum(per_batch.values()) == 90 and len(per_batch) == 3


def test_streaming_gif_compositing_with_crash_restart(spark, tmp_path):
    """The round-14 compositing decoder inside the same streaming
    ingest loop: each micro-batch encodes its documents as SUB-CANVAS
    animated GIFs (transparency + disposal 2), extracts every
    COMPOSITED frame's statistics with gif_frames, and appends them
    per batch. A mid-run crash-restart replays exactly once, and the
    union of per-batch frame rows equals the one-shot gif_frames of
    everything streamed — so compositing state (canvas, background,
    disposal) provably lives inside one payload's decode and never
    leaks across batch boundaries."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators import multimodal

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(60)
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    delta_dir = tmp_path / "anim-deltas"
    delta_dir.mkdir()
    frame_dir = str(tmp_path / "anim-frames")
    ckpt = str(tmp_path / "ckpt-anim")

    def ingest(batch_df, batch_id):
        frames = multimodal.gif_frames(
            multimodal.gif_anim_encode(batch_df)
        ).withColumn("_batch_id", F.lit(batch_id))
        frames.write.mode("append").parquet(frame_dir)

    def run_stream(name):
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    batches[0].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("anim-0")
    batches[1].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("anim-1-restarted")  # checkpoint replay, exactly once
    batches[2].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("anim-2")

    streamed = spark.read.parquet(frame_dir)
    one_shot = multimodal.gif_frames(multimodal.gif_anim_encode(docs))
    key = lambda t: (t[0], t[2])  # (doc_id, frame_idx)
    got = sorted(map(tuple, streamed.drop("_batch_id").collect()), key=key)
    exp = sorted(map(tuple, one_shot.collect()), key=key)
    assert got == exp
    n_frames_expected = sum(2 + int(r["doc_id"]) % 3 for r in docs.collect())
    assert len(got) == n_frames_expected


def test_streaming_sequence_packing_with_carried_offset(spark, tmp_path):
    """Incremental GPT-style sequence packing at ingest time (round
    16; hardened per ADVICE r16 #1+#2): new documents append at the
    stream tail, so a micro-batch packed at the previous batch's
    final token total continues the same global stream. Each
    foreachBatch run reads the carried offset AND the high-water
    doc_id from a tiny ledger, packs its docs with
    pack_sequences(stream_offset=..., min_doc_id=...) — the
    append-at-tail invariant is enforced, not assumed — and commits
    spans and ledger row IDEMPOTENTLY: both tables are partitioned
    by batch id and written with dynamic partition OVERWRITE, so a
    replay rewrites its own partition instead of double-appending.
    This drill injects a GENUINE mid-batch crash (batch 1 dies after
    the span write, before the ledger write — the worst seam: data
    landed, bookkeeping didn't) plus a NO-OP restart; the union of
    per-batch spans must equal the ONE-SHOT packing of the whole
    corpus row for row. This is the incremental-ingest recipe the
    operator docstring points at."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.text import pack_sequences

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 90)
    # contiguous doc_id ranges so arrival order == doc_id order and
    # the one-shot reference is pack_sequences over the whole corpus
    batches = [
        docs.filter((F.col("doc_id") >= 30 * i) & (F.col("doc_id") < 30 * (i + 1)))
        for i in range(3)
    ]
    delta_dir = tmp_path / "pack-deltas"
    delta_dir.mkdir()
    span_dir = str(tmp_path / "pack-spans")
    ledger_dir = str(tmp_path / "pack-ledger")
    ckpt = str(tmp_path / "ckpt-pack")
    crash_flag = tmp_path / "crash-once"
    seq_len = 64

    def ingest(batch_df, batch_id):
        import os

        # existence check, not a blanket except: a REAL ledger read
        # error must propagate, only the genuine first-batch case
        # starts at offset 0 (round-16 review)
        if os.path.isdir(ledger_dir):
            prev_row = (
                spark.read.parquet(ledger_dir)
                .filter(F.col("batch_id") < batch_id)
                .agg(
                    F.max_by("end_total", "batch_id").alias("t"),
                    F.max("max_doc_id").alias("hw"),
                )
                .collect()[0]
            )
            prev, high_water = prev_row["t"] or 0, prev_row["hw"]
        else:
            prev, high_water = 0, None
        spans = pack_sequences(
            batch_df, seq_len, stream_offset=prev, min_doc_id=high_water
        ).withColumn("_batch_id", F.lit(batch_id))
        # idempotent commit: a replayed batch OVERWRITES its own
        # partition — append here would double the spans on the
        # mid-batch replay below (ADVICE r16 #1)
        spans.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_batch_id").parquet(span_dir)
        if batch_id == 1 and not crash_flag.exists():
            crash_flag.touch()
            raise RuntimeError(
                "injected mid-batch crash: spans written, ledger not"
            )
        # token total off the RAW batch in one narrow pass — not by
        # re-running the span pipeline, and via the operator's OWN
        # token_count expression so the carried offset can never
        # drift from the cumsum's rule (round-16 review)
        from firebolt_spark.operators.text import token_count

        agg = batch_df.agg(
            F.sum(token_count("text")).alias("s"),
            F.max("doc_id").alias("m"),
        ).collect()[0]
        spark.createDataFrame(
            [(batch_id, prev + (agg["s"] or 0), agg["m"])],
            "batch_id LONG, end_total LONG, max_doc_id LONG",
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(ledger_dir)

    def run_stream(name, expect_crash=False):
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        if expect_crash:
            import pytest

            with pytest.raises(Exception, match="injected mid-batch crash"):
                q.awaitTermination(120)
        else:
            assert q.awaitTermination(120)
        q.stop()

    batches[0].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("pack-0")
    batches[1].coalesce(1).write.mode("append").parquet(str(delta_dir))
    # GENUINE mid-batch crash: batch 1's spans land, its ledger row
    # and checkpoint commit don't — the restart must replay batch 1
    # under the SAME batch id and converge (partition overwrite), not
    # double-append
    run_stream("pack-1-crash", expect_crash=True)
    assert crash_flag.exists()
    run_stream("pack-1-replay")
    n_before = spark.read.parquet(span_dir).count()
    run_stream("pack-noop-restart")  # nothing new: zero rows appended
    assert spark.read.parquet(span_dir).count() == n_before
    batches[2].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("pack-2")

    streamed = spark.read.parquet(span_dir)
    one_shot = pack_sequences(docs, seq_len)
    cols = one_shot.columns
    key = lambda t: (t[0], t[2])  # (doc_id, seq_id)
    got = sorted(
        map(tuple, streamed.select(cols).collect()), key=key
    )
    exp = sorted(map(tuple, one_shot.collect()), key=key)
    assert got == exp  # no seam at batch boundaries, crash, or restarts
    per_batch = {
        r["_batch_id"]: r["n"]
        for r in streamed.groupBy("_batch_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert len(per_batch) == 3 and sum(per_batch.values()) == len(exp)


def test_streaming_sequence_materialization_incremental(spark, tmp_path):
    """VERDICT r16 Next #3 end-to-end: the streaming shard writer.
    Each micro-batch (1) packs its docs at the carried offset and
    commits the spans, (2) MATERIALIZES exactly the training
    sequences the stream has now moved past — the window
    [prev_total div L, end_total div L) via
    materialize_sequences(below_total=..., min_seq_id=...) over the
    ACCUMULATED span and doc tables — and (3) advances the ledger.
    The boundary sequence (straddling the batch seam, partially
    filled) is withheld until a later batch completes it; a
    finalization pass after the stream closes stitches the tail.
    Every write is an idempotent per-batch partition overwrite.
    Across a genuine MID-BATCH crash (die between the sequence write
    and the ledger write) and a no-op restart, the union of
    materialized shards must equal the ONE-SHOT
    pack_sequence_texts row for row — each sequence emitted exactly
    once, none short."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.text import (
        materialize_sequences, pack_sequence_texts, pack_sequences,
        token_count,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 90)
    batches = [
        docs.filter((F.col("doc_id") >= 30 * i) & (F.col("doc_id") < 30 * (i + 1)))
        for i in range(3)
    ]
    delta_dir = tmp_path / "mat-deltas"
    delta_dir.mkdir()
    span_dir = str(tmp_path / "mat-spans")
    seq_dir = str(tmp_path / "mat-seqs")
    ledger_dir = str(tmp_path / "mat-ledger")
    ckpt = str(tmp_path / "ckpt-mat")
    crash_flag = tmp_path / "mat-crash-once"
    seq_len = 64

    def dyn_overwrite(df, path, part_col):
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(part_col).parquet(path)

    def ingest(batch_df, batch_id):
        import os

        if os.path.isdir(ledger_dir):
            prev_row = (
                spark.read.parquet(ledger_dir)
                .filter(F.col("batch_id") < batch_id)
                .agg(
                    F.max_by("end_total", "batch_id").alias("t"),
                    F.max("max_doc_id").alias("hw"),
                )
                .collect()[0]
            )
            prev, high_water = prev_row["t"] or 0, prev_row["hw"]
        else:
            prev, high_water = 0, None
        spans = pack_sequences(
            batch_df, seq_len, stream_offset=prev, min_doc_id=high_water
        ).withColumn("_batch_id", F.lit(batch_id))
        dyn_overwrite(spans, span_dir, "_batch_id")
        agg = batch_df.agg(
            F.sum(token_count("text")).alias("s"),
            F.max("doc_id").alias("m"),
        ).collect()[0]
        end_total = prev + (agg["s"] or 0)
        # materialize the newly-completed window off the ACCUMULATED
        # tables: spans from every committed batch plus this one,
        # docs from everything that has arrived (a boundary sequence
        # reaches back into earlier batches' documents)
        all_spans = spark.read.parquet(span_dir)
        all_docs = spark.read.schema(docs.schema).parquet(str(delta_dir))
        seqs = materialize_sequences(
            all_spans, all_docs, seq_len,
            below_total=end_total, min_seq_id=prev // seq_len,
        ).withColumn("_batch_id", F.lit(batch_id))
        dyn_overwrite(seqs, seq_dir, "_batch_id")
        if batch_id == 1 and not crash_flag.exists():
            crash_flag.touch()
            raise RuntimeError(
                "injected mid-batch crash: sequences written, ledger not"
            )
        spark.createDataFrame(
            [(batch_id, end_total, agg["m"])],
            "batch_id LONG, end_total LONG, max_doc_id LONG",
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(ledger_dir)

    def run_stream(name, expect_crash=False):
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        if expect_crash:
            import pytest

            with pytest.raises(Exception, match="injected mid-batch crash"):
                q.awaitTermination(120)
        else:
            assert q.awaitTermination(120)
        q.stop()

    batches[0].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("mat-0")
    batches[1].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("mat-1-crash", expect_crash=True)
    assert crash_flag.exists()
    run_stream("mat-1-replay")
    n_before = spark.read.parquet(seq_dir).count()
    run_stream("mat-noop-restart")
    assert spark.read.parquet(seq_dir).count() == n_before
    batches[2].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("mat-2")

    # FINALIZATION: the stream is closed — stitch the tail sequence
    # (everything at or past the last cut) into its own partition
    final = spark.read.parquet(ledger_dir).agg(
        F.max_by("end_total", "batch_id").alias("t")
    ).collect()[0]["t"]
    all_spans = spark.read.parquet(span_dir)
    all_docs = spark.read.schema(docs.schema).parquet(str(delta_dir))
    tail = materialize_sequences(
        all_spans, all_docs, seq_len, min_seq_id=final // seq_len
    ).withColumn("_batch_id", F.lit(-1))
    dyn_overwrite(tail, seq_dir, "_batch_id")

    streamed = spark.read.parquet(seq_dir)
    one_shot = pack_sequence_texts(docs, seq_len)
    cols = one_shot.columns
    got = sorted(map(tuple, streamed.select(cols).collect()))
    exp = sorted(map(tuple, one_shot.collect()))
    assert got == exp  # every sequence exactly once, none short
    # each seq_id came from exactly one window (no straddle emission)
    n_ids = streamed.select("seq_id").distinct().count()
    assert n_ids == streamed.count() == len(exp)
    # all full except the finalization tail
    for r in streamed.collect():
        if r["_batch_id"] != -1:
            assert r["n_toks"] == seq_len


def test_streaming_video_frames_with_crash_restart(spark, tmp_path):
    """The round-15 AVI demuxer inside the streaming ingest loop
    (VERDICT r15 Next #6 — the one media operator the crash drills
    did not cover): each micro-batch encodes its documents as
    single-stream AVIs (even doc_ids uncompressed DIB, odd MJPG),
    demuxes and decodes every frame with video_frames, and appends
    the per-frame statistics keyed by batch. A mid-run crash-restart
    replays exactly once, a NO-OP restart (checkpoint caught up, no
    new delta) must process zero batches and append zero rows, and
    the union of per-batch frame rows equals the one-shot
    video_frames of everything streamed — demux state (RIFF walk,
    frame chunk scan) provably lives inside one payload's decode."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators import multimodal

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(60)
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    delta_dir = tmp_path / "video-deltas"
    delta_dir.mkdir()
    frame_dir = str(tmp_path / "video-frames")
    ckpt = str(tmp_path / "ckpt-video")

    def ingest(batch_df, batch_id):
        frames = multimodal.video_frames(
            multimodal.avi_encode(batch_df)
        ).withColumn("_batch_id", F.lit(batch_id))
        frames.write.mode("append").parquet(frame_dir)

    def run_stream(name):
        q = (
            spark.readStream.schema(docs.schema).parquet(str(delta_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    batches[0].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("video-0")
    batches[1].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("video-1-restarted")  # checkpoint replay, exactly once
    # NO-OP restart: nothing new landed; the checkpoint must show the
    # source caught up and the feature table must not grow
    n_before = spark.read.parquet(frame_dir).count()
    run_stream("video-noop-restart")
    assert spark.read.parquet(frame_dir).count() == n_before
    batches[2].coalesce(1).write.mode("append").parquet(str(delta_dir))
    run_stream("video-2")

    streamed = spark.read.parquet(frame_dir)
    one_shot = multimodal.video_frames(multimodal.avi_encode(docs))
    key = lambda t: (t[0], t[2])  # (doc_id, frame_idx) — t[1] is sha
    got = sorted(map(tuple, streamed.drop("_batch_id").collect()), key=key)
    exp = sorted(map(tuple, one_shot.collect()), key=key)
    assert got == exp
    # frame count: every doc carries 2 + doc_id % 3 frames
    n_frames_expected = sum(2 + int(r["doc_id"]) % 3 for r in docs.collect())
    assert len(got) == n_frames_expected
    # each processed batch appended exactly once; the no-op restart
    # contributed no batch id
    per_batch = {
        r["_batch_id"]: r["n"]
        for r in streamed.groupBy("_batch_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert len(per_batch) == 3 and sum(per_batch.values()) == len(exp)
