"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no dedup — SURVEY §2.10), these
are the operators a 100 TB text-corpus pipeline needs. All of them are
pure Spark built-ins (no Python in the hot path) and follow the
standard scale shapes:

- **exact**: hash-groupBy on a content digest — one shuffle keyed by
  md5(text), so identical docs co-locate regardless of corpus size;
- **minhash + LSH**: shingle → k minhashes → band buckets → candidate
  pairs only within a bucket (the classic sub-quadratic near-dup join:
  the cross product never materializes, only same-bucket pairs do);
- **simhash**: 64-bit signed-dimension fingerprint; near-dups are
  pairs at small Hamming distance, found by a pigeonhole block join
  (split into max_hamming+1 blocks; any pair within distance d must
  agree exactly on ≥1 block) instead of all-pairs;
- **n-gram Jaccard**: exact set overlap via a shared-shingle join
  (an inverted-index join — pairs sharing no shingle are never formed).

Hash functions are md5-based so results are engine-portable (the
DuckDB oracle computes identical digests). Swapping xxhash64 for md5
was MEASURED in r18 and bought only ~4-5% (the per-gram cost is
higher-order-function plumbing, not the digest — see
:func:`_gram_list`); the topology, not the hash, is the scale story.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_MINHASH = 8          # minhash permutations
N_BANDS = 4            # LSH bands (rows per band = N_MINHASH // N_BANDS)
SIMHASH_BITS = 64      # simhash dimensions (packed into one BIGINT)

# Universal-hash minhash family: h_j(s) = (A_j * h32(s) + B_j) mod P,
# where h32 is the first 8 hex digits of md5(s) as an unsigned 32-bit
# int. ONE md5 per shingle instead of k — the classic single-hash +
# k-permutations construction. P < 2^30 keeps A_j * h32 < 2^62: no
# int64 overflow in Spark OR DuckDB (DuckDB raises on overflow, so this
# bound is load-bearing for oracle parity).
MH_PRIME = 1073741789  # prime < 2^30


def mh_constants(k: int) -> tuple[list[int], list[int]]:
    """(A, B) multiplier/offset tables for a k-slot signature — derived
    deterministically so any k works; the DuckDB oracle is generated
    from the same values."""
    a = [(2654435761 * (j + 1) + 40503) % MH_PRIME for j in range(k)]
    b = [(2246822519 * (j + 1) + 3266489917) % MH_PRIME for j in range(k)]
    assert all(x != 0 for x in a), "degenerate multiplier — change the seed"
    return a, b


MH_A, MH_B = mh_constants(N_MINHASH)


def cap_bucket_size(
    df: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Degenerate-bucket guard for LSH band self-joins (the band-join
    analogue of ``max_df``): drop every row of any bucket holding more
    than ``max_bucket`` members BEFORE the self-join.

    A bucket with b members contributes b² candidate pairs to ONE join
    key — a boilerplate-heavy corpus (1M identical license headers) puts
    its whole clone set in one bucket and melts a single reducer. Rows
    in capped buckets are dropped, not salted: such buckets are
    near-duplicate *cliques*, so the candidate set they would generate
    is quadratic by construction and is better handled by exact dedup
    first (the curation pipeline runs exact dedup upstream).

    Implemented as a window count over the bucket keys — one shuffle on
    exactly the keys the following self-join uses, so the exchange is
    reused, not added. ``None`` disables the cap (exact semantics).
    """
    if max_bucket is None:
        return df
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        df.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= max_bucket)
        .drop("_bucket_n")
    )


def tokens(col: Column | str = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    Built entirely from higher-order array functions — stays in
    whole-stage codegen, no UDF. The tokenization is bound once via a
    lambda argument (``transform(array(split(..)), t -> ...)``) instead
    of being re-evaluated inside the per-index lambda — the naive form
    re-splits the text for every shingle position, turning an O(tokens)
    row into O(tokens²).
    """
    return F.array_distinct(
        F.expr(
            f"flatten(transform(array(split({text_col}, ' ')), t -> "
            f"transform(sequence(1, greatest(size(t) - {n - 1}, 1)), "
            f"i -> concat_ws(' ', slice(t, i, {n})))))"
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an eval/benchmark set (the GPT-3/PaLM-style n-gram
    overlap check every training-data pipeline runs before a model
    sees the corpus — no reference analogue; north-star LLM-pipeline
    operator).

    Output: (doc_id, n_hits) for every training doc, n_hits = number
    of DISTINCT benchmark shingles the doc contains (0 = clean; filter
    ``n_hits > 0`` for the contamination report, anti-join for the
    clean corpus).

    100 TB shape: benchmark sets are small (thousands of prompts), so
    their distinct-shingle table is **broadcast** — the corpus-side
    shingle explosion joins with zero shuffle of corpus data, and the
    per-doc count aggregates map-side. NULL text yields no shingles on
    either side (filtered up front — the engines disagree on NULL
    tokenization; see minhash_signatures).
    """
    corpus_sh = shingle_table(docs.filter(F.col(text_col).isNotNull()), text_col, n)
    bench_sh = (
        shingle_table(
            benchmark.filter(F.col(text_col).isNotNull()), text_col, n
        )
        .select("sh")
        .distinct()
    )
    hits = corpus_sh.join(F.broadcast(bench_sh), "sh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: one row per distinct content digest with the
    kept (minimum) doc_id and the duplicate count. Single hash shuffle
    on the digest; at 100 TB the digest (16 bytes) shuffles, never the
    document bodies."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_table(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct shingles.

    Distinctness comes from the per-row ``array_distinct`` alone: within
    a doc the array is already deduped, and (doc_id, sh) can't collide
    across docs — so no cross-row ``.distinct()`` shuffle is needed.
    """
    return docs.select(
        "doc_id", F.explode(word_shingles(text_col, n)).alias("sh")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    k: int = N_MINHASH,
    *,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Wide minhash signature per doc: h0..h{k-1} BIGINT.
    ``carry_cols`` names extra input columns appended unchanged
    (the r17 ``hashed_ngram_counts`` pattern — lets one persisted
    corpus pass serve signature AND non-signature consumers); the
    signature rows are identical either way.

    Two deliberate scale choices (round-3 rewrite of the
    explode+groupBy form):

    - **zero shuffle**: the per-document min runs as
      ``array_min(transform(...))`` over the row's own shingle array —
      a pure projection inside whole-stage codegen. The old form
      exploded every shingle and shuffled O(total shingles) rows into a
      groupBy; at 100 TB that shuffle IS the job. Result values are
      identical.
    - **one md5 per shingle, not k**: shingles hash once to a 32-bit
      int (first 8 md5 hex digits); the k signature slots are universal
      hashes ``(A_j*h32 + B_j) mod P`` over that int (constants above,
      mirrored verbatim in the DuckDB oracle) — arithmetic, not k
      digests.

    NULL-text documents are excluded up front: Spark's split/concat_ws
    chain would coerce NULL to the EMPTY-STRING shingle (giving every
    NULL doc one shared signature), while SQL NULL propagation gives
    them NULL signatures that never equi-join — dropping them makes the
    two engines agree by construction. Empty-text docs keep the ''
    shingle (identical to the old explode form and to the oracle's
    string_split behavior); their shared signature is real duplicate
    semantics, and the band-join ``max_bucket`` guard bounds the blast
    radius of any such degenerate clone set.
    """
    hashed = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id", word_shingles(text_col).alias("_sh_arr"), *carry_cols
    )
    hashed = hashed.select(
        "doc_id",
        F.expr(
            "transform(_sh_arr, s -> "
            "CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT))"
        ).alias("_h32"),
        *carry_cols,
    )
    mh_a, mh_b = mh_constants(k)
    # selectExpr ships all k slot expressions in ONE py4j call (r17
    # driver-time optimization) — the parsed expressions are identical
    # to the previous per-column F.expr list
    return hashed.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(_h32, h -> "
            f"({mh_a[j]}L * h + {mh_b[j]}L) % {MH_PRIME}L)) AS h{j}"
            for j in range(k)
        ],
        *carry_cols,
    )


def _match_sum_sql(a: str, b: str, k: int) -> str:
    """SQL fragment counting agreeing minhash slots between two aliased
    signature rows — ``CASE WHEN a.hj = b.hj THEN 1 ELSE 0`` summed
    left-to-right, exactly the expression the old per-slot Column chain
    built (NULL-safe the same way: a NULL comparison takes the ELSE 0
    branch).  One ``F.expr`` parse instead of ~4 py4j round trips per
    slot (r17 driver-time optimization; the DuckDB oracle's _MATCH_SUM
    mirror is unchanged)."""
    return " + ".join(
        f"(CASE WHEN {a}.h{j} = {b}.h{j} THEN 1 ELSE 0 END)"
        for j in range(k)
    )


def lsh_bands(signatures: DataFrame, k: int = N_MINHASH, bands: int = N_BANDS) -> DataFrame:
    """Long-format LSH buckets: (doc_id, band, band_hash). Docs agreeing
    on all rows of any band land in the same bucket.

    Emitted as ONE pass over the signature table — an explode of the
    per-row array of (band, hash) structs — not a union of ``bands``
    per-band projections (the round-6 rewrite: the union form scanned
    the signature table once PER BAND, i.e. 32 passes / 32× the
    scheduler tasks; at 100 TB the signature table is checkpointed and
    those are 32 real table scans). Row set is identical, so the DuckDB
    oracle keeps its UNION ALL mirror."""
    rows_per_band = k // bands
    # one F.expr parse for the whole struct array (r17 driver-time
    # optimization — the per-band F.struct/F.md5/F.concat_ws chain was
    # ~6 py4j round trips per band); '#'-separated so (1, 23) and
    # (12, 3) can't collide, exactly the previous expression tree
    structs_sql = ", ".join(
        "named_struct('band', {b}, 'band_hash', md5(concat_ws('#', {cols})))".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return signatures.select(
        "doc_id", F.expr(f"explode(array({structs_sql}))").alias("_b")
    ).select("doc_id", "_b.band", "_b.band_hash")


def minhash_candidate_pairs(
    docs: DataFrame | None,
    text_col: str = "text",
    k: int = N_MINHASH,
    bands: int = N_BANDS,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    *,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via minhash-LSH with estimated
    Jaccard = fraction of agreeing minhashes.

    Scale shape: the self-join is on (band, band_hash) — only docs
    sharing a bucket ever meet, so the pair count tracks true near-dup
    density, not |corpus|². The signature join that scores candidates
    is a broadcast-or-shuffle join on doc_id of a k-column table. The
    signature table feeds three consumers (bands + both scoring sides),
    so it is persisted — at 100 TB it would be a checkpointed table.

    ``max_bucket`` (see ``cap_bucket_size``) drops degenerate band
    buckets before the self-join — at 100 TB always set it.

    ``signatures`` injects a precomputed ``minhash_signatures``-shaped
    table (doc_id, h0..h{k-1}) instead of signing ``docs`` here — the
    composition hook (r18): a caller that already pays one corpus pass
    for other per-doc columns persists ONE combined table and passes
    the signature slice in. The CALLER owns persistence then (this
    function persists only the signatures it builds itself); the pair
    set is identical either way.
    """
    if docs is None and signatures is None:
        raise ValueError("provide docs or signatures")
    if signatures is not None:
        sig = signatures
        handles: tuple[DataFrame, ...] = ()
    else:
        sig = minhash_signatures(docs, text_col, k).persist()
        handles = (sig,)
    b = cap_bucket_size(lsh_bands(sig, k, bands), ["band", "band_hash"], max_bucket)
    cand = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ma = sig.alias("ma")
    mb = sig.alias("mb")
    # one server-side parse (r17): the per-slot when/otherwise chain
    # cost ~130 py4j round trips of driver time per construction; the
    # SQL string is the identical expression (CASE WHEN x THEN 1 ELSE 0
    # summed left-to-right), so est_jaccard is bit-identical
    matches = F.expr(_match_sum_sql("ma", "mb", k))
    from firebolt_spark.functions import track_persisted

    return track_persisted(
        cand.join(ma, F.col("doc_a") == F.col("ma.doc_id"))
        .join(mb, F.col("doc_b") == F.col("mb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(float(k))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold),
        *handles,
    )


def build_shingle_index(
    docs: DataFrame,
    table_name: str,
    text_col: str = "text",
    n: int = 3,
    num_buckets: int = 32,
) -> None:
    """Materialize the ``(doc_id, sh)`` shingle inverted index as a
    table BUCKETED (and sorted) by ``sh`` — the pre-bucketed artifact
    :func:`ngram_jaccard_pairs`' persist comment promises for 100 TB
    (VERDICT r10 "Next #3"; carried from r9 #6).

    Bucketing by the join key makes every later consumer exchange-free
    on ``sh``: the inverted-index SELF-join sort-merges bucket-to-bucket
    with zero Exchange, and the hot-shingle document-frequency
    aggregate reuses the same clustering (pinned by
    tests/test_scale_plans.py). The write pays the shuffle ONCE;
    repeated dedup jobs (tuning ``threshold``/``max_df``, nightly
    re-runs) amortize it — the table-layout face of the same idea as
    :func:`build_winnow_index`. Bucket metadata only survives
    ``saveAsTable``, hence a table name, not a path
    (:func:`firebolt_spark.functions.write_bucketed`).

    The shingle width ``n`` is recorded as a table property and
    validated at consumption — a mismatched-``n`` index would silently
    change the metric.
    """
    from firebolt_spark.functions import write_bucketed

    write_bucketed(
        shingle_table(docs, text_col, n), table_name, ["sh"],
        num_buckets=num_buckets, sort_cols=["sh"],
    )
    docs.sparkSession.sql(
        f"ALTER TABLE {table_name} SET TBLPROPERTIES "
        f"('firebolt.ngram_n' = '{int(n)}')"
    )


def append_shingle_index(
    new_docs: DataFrame,
    table_name: str,
    text_col: str = "text",
) -> None:
    """Append a NEW ingest batch's shingles to a
    :func:`build_shingle_index` table (``n`` read from the table
    property; the batch lands in the existing bucket layout). Cost
    tracks the batch — the historical corpus is never re-shingled.

    No ``_batches`` replay guard here (the table has no sidecar
    directory): a replayed batch duplicates its ``(doc_id, sh)`` rows
    in storage, and because duplicate rows would corrupt Jaccard
    COUNTS (unlike the ANN indexes, where they only widen a candidate
    set), :func:`ngram_jaccard_pairs` defensively de-duplicates the
    index read — an exchange-free partial aggregate, since the table
    is already clustered on ``sh``. Results therefore stay exact under
    at-least-once ingestion; rebuild to reclaim the duplicate storage.
    """
    from firebolt_spark.functions import write_bucketed

    spark = new_docs.sparkSession
    n = _shingle_index_n(spark, table_name)
    # the append must restate the EXISTING bucket spec (Spark refuses a
    # mismatch rather than silently breaking the layout)
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table_name}").collect()
    }
    # mark the table as possibly-duplicated BEFORE writing: any append
    # may be an at-least-once replay, and the flag is what tells
    # consumers to pay the defensive dedup. Setting it first means a
    # crash between the two statements leaves a prematurely-set flag
    # (a harmless extra dedup on a still-duplicate-free table); the
    # reverse order would leave duplicate rows with the flag UNSET —
    # exactly the silent corruption the flag exists to prevent.
    _stamp_appended(spark, table_name)
    write_bucketed(
        shingle_table(new_docs, text_col, n), table_name, ["sh"],
        num_buckets=int(info["Num Buckets"]), sort_cols=["sh"],
        mode="append",
    )
    # gen-last: make this append visible to a compaction that
    # snapshotted while the write above was running
    _stamp_appended(spark, table_name)


def _shingle_index_props(spark, table_name: str) -> dict:
    """Table properties of a :func:`build_shingle_index` table. Refuses
    a table without ``firebolt.ngram_n`` — consuming a foreign or
    hand-written table would skip the width validation and silently
    change the metric (the `_meta`-absent contract of the ANN
    indexes)."""
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    }
    if "firebolt.ngram_n" not in props:
        raise ValueError(
            f"table {table_name} has no firebolt.ngram_n property — not "
            f"a build_shingle_index artifact; refusing to use it"
        )
    return props


def _shingle_index_n(spark, table_name: str) -> int:
    return int(_shingle_index_props(spark, table_name)["firebolt.ngram_n"])


def _table_num_buckets(spark, table_name: str) -> int:
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table_name}").collect()
    }
    return int(info["Num Buckets"])


def _recover_compact(spark, table_name: str) -> None:
    """Finish (or clean up after) an interrupted :func:`_compact_table`
    swap — called on entry so compaction is idempotent across crashes.
    The swap's only unsafe window is between the two renames, where the
    target name is briefly absent but the compacted stage holds the
    complete data; recovery promotes it. Orphan stage/old tables from
    the other windows are dropped (stage is stale, old was already
    replaced)."""
    stage, old = f"{table_name}_cstage", f"{table_name}_cold"
    cat = spark.catalog
    if not cat.tableExists(table_name) and cat.tableExists(stage):
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table_name}")
    if cat.tableExists(table_name):
        for leftover in (old, stage):
            if cat.tableExists(leftover):
                spark.sql(f"DROP TABLE {leftover}")


def _stamp_appended(spark, table_name: str) -> None:
    """Set ``firebolt.appended`` and a fresh ``firebolt.append_gen``
    nonce in ONE statement — the gen is what lets a concurrent
    compaction detect that an append landed after its snapshot read
    (see :func:`_compact_table`). Appends stamp TWICE — flag-first
    before the write (crash safety: duplicates never hide behind an
    unset flag) and again after it (guard coverage: a compaction that
    snapshotted mid-write sees the gen change at its pre-swap
    re-check; with only the pre-write stamp, the whole write duration
    — minutes at scale — would be an undetectable window)."""
    gen = uuid.uuid4().hex
    spark.sql(
        f"ALTER TABLE {table_name} SET TBLPROPERTIES "
        f"('firebolt.appended' = '1', 'firebolt.append_gen' = '{gen}')"
    )


def _live_append_gen(spark, table_name: str) -> str:
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    }
    return props.get("firebolt.append_gen", "")


def _compact_table(
    spark,
    table_name: str,
    dedup_cols: list[str],
    bucket_cols: list[str],
    sort_cols: list[str],
    stage_props: dict[str, str],
    gen_guard: tuple[str, str] | None = None,
) -> None:
    """Rewrite one warehouse index table duplicate-free and swap it in
    — the staged-commit protocol of the path-based indexes, restated
    for catalog tables where the commit point is a metadata-only
    RENAME instead of a ``_batches`` record. The stage carries the
    build parameters but NOT ``firebolt.appended``, so data and flag
    flip together: every crash point leaves either the old table (with
    the flag — consumers keep paying the safe dedup) or the compacted
    one (flag gone — fast path), never duplicate rows presented as
    clean.

    ``gen_guard`` = (table holding the flag, its ``firebolt.append_gen``
    at snapshot time): re-checked immediately before the swap, and the
    compaction ABORTS (stage dropped, table untouched) if an append's
    fresh gen landed in between — that append's rows would be absent
    from the stage while the swap also clears the flag (ADVICE r12).
    The check is best-effort: it detects appends that COMPLETE (their
    gen-last re-stamp, see :func:`_stamp_appended`) before the
    re-check; an append still mid-write at the re-check, or landing in
    the instants between re-check and RENAME, is not detected — a
    catalog has no transactions. Compaction therefore retains a
    SINGLE-WRITER requirement: run it from the same maintenance loop
    that issues the appends, never concurrently with one. The guard
    turns completed-append violations into loud aborts; it does not
    replace the contract."""
    from firebolt_spark.functions import write_bucketed
    from firebolt_spark.operators.similarity import _delete_dir

    stage = f"{table_name}_cstage"
    if not spark.catalog.tableExists(stage):
        # orphaned managed-table dir without a catalog entry (crash
        # before the stage's own commit) blocks saveAsTable
        _delete_dir(
            spark,
            spark.conf.get("spark.sql.warehouse.dir") + f"/{stage.lower()}",
        )
    write_bucketed(
        spark.table(table_name).dropDuplicates(dedup_cols),
        stage,
        bucket_cols,
        num_buckets=_table_num_buckets(spark, table_name),
        sort_cols=sort_cols,
    )
    if stage_props:
        kv = ", ".join(f"'{k}' = '{v}'" for k, v in stage_props.items())
        spark.sql(f"ALTER TABLE {stage} SET TBLPROPERTIES ({kv})")
    if gen_guard is not None:
        flag_table, snapshot_gen = gen_guard
        live = _live_append_gen(spark, flag_table)
        if live != snapshot_gen:
            spark.sql(f"DROP TABLE {stage}")
            raise RuntimeError(
                f"compact aborted: concurrent append detected on "
                f"{flag_table} (append_gen {snapshot_gen!r} -> {live!r})"
                f" — compaction requires a single writer; re-run when "
                f"no append is in flight"
            )
    old = f"{table_name}_cold"
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {stage} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE {old}")


def compact_shingle_index(spark, table_name: str) -> None:
    """Rewrite a :func:`build_shingle_index` table duplicate-free and
    clear ``firebolt.appended`` (round 12 — VERDICT r11 Next #4).

    Why: the appended flag makes every consumer pay a defensive
    ``(doc_id, sh)`` dedup aggregate forever (+31% of the sf10 pairs
    job, measured round 11) — correct under at-least-once replays, but
    the cost never goes away on its own. Compaction reclaims the
    build-only fast path for long-lived ingest loops: one bucketed
    rewrite (exchange-free — the table is already clustered on ``sh``),
    then a staged-commit swap (see :func:`_compact_table`), after which
    consumers skip the dedup and results are bit-identical (the dedup
    applied here is exactly the one consumers were applying on read).

    Idempotent and crash-recovering: a rerun finishes an interrupted
    swap; a table whose flag is already clear is a no-op."""
    _recover_compact(spark, table_name)
    props = _shingle_index_props(spark, table_name)
    if props.get("firebolt.appended") != "1":
        return
    _compact_table(
        spark,
        table_name,
        dedup_cols=["doc_id", "sh"],
        bucket_cols=["sh"],
        sort_cols=["sh"],
        stage_props={"firebolt.ngram_n": props["firebolt.ngram_n"]},
        gen_guard=(table_name, props.get("firebolt.append_gen", "")),
    )


def compact_minhash_index(spark, table_name: str) -> None:
    """Rewrite a :func:`build_minhash_index` artifact (both tables)
    duplicate-free and clear ``firebolt.appended`` — the MinHash twin
    of :func:`compact_shingle_index`.

    ``_bands`` compacts FIRST: the flag lives on ``_sig``, and
    duplicate band rows are harmless by contract (the candidate join's
    DISTINCT collapses them), so a crash between the two table
    compactions leaves a flagged ``_sig`` (consumers still dedup —
    safe) over an already-clean ``_bands``. The reverse order could
    never corrupt either, but this one keeps the invariant simple:
    the flag clears last."""
    for t in (f"{table_name}_sig", f"{table_name}_bands"):
        _recover_compact(spark, t)
    props = _minhash_index_props(spark, table_name)
    if props.get("firebolt.appended") != "1":
        return
    guard = (f"{table_name}_sig", props.get("firebolt.append_gen", ""))
    _compact_table(
        spark,
        f"{table_name}_bands",
        dedup_cols=["doc_id", "band", "band_hash"],
        bucket_cols=["band", "band_hash"],
        sort_cols=["band", "band_hash"],
        stage_props={},
        gen_guard=guard,
    )
    _compact_table(
        spark,
        f"{table_name}_sig",
        dedup_cols=["doc_id"],
        bucket_cols=["doc_id"],
        sort_cols=["doc_id"],
        stage_props={
            "firebolt.minhash_k": props["firebolt.minhash_k"],
            "firebolt.minhash_bands": props["firebolt.minhash_bands"],
        },
        gen_guard=guard,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_df: float | None = None,
    broadcast_hot: bool | None = None,
    shingle_index: str | None = None,
    max_df_count: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Inverted-index join: explode shingles, self-join on the shingle,
    count intersections, then Jaccard from per-doc shingle counts.

    ``max_df`` is the hot-shingle guard (VERDICT r1 #4): a stop-shingle
    appearing in df documents contributes df² rows to one join key — one
    ubiquitous shingle makes the join quadratic on a single reducer.
    With ``max_df`` set, shingles whose document frequency exceeds
    ``max_df × |corpus|`` are dropped from the inverted index *before*
    the self-join (they carry near-zero similarity signal anyway —
    standard tf-idf style pruning). Note this changes the metric for
    affected pairs (intersections no longer count capped shingles, while
    per-doc sizes still do), so pass None when exactness matters and the
    corpus is known clean; at 100 TB always set it.

    ``max_df_count`` is the ABSOLUTE form of the same cap (round 11 —
    the text analogue of :func:`cap_bucket_size`'s role on the LSH
    joins): shingles in more than this many documents are dropped
    regardless of corpus size. The fractional cap stops firing as the
    corpus grows — at 10⁹ docs, ``max_df=0.5`` needs a shingle in half
    a billion documents, while boilerplate with df=10⁷ (0.1% of the
    corpus, very real) still contributes 10¹⁴ rows to ONE join key.
    An absolute count bounds the worst-case join-key group
    unconditionally; set both and a shingle is dropped when it exceeds
    EITHER. Same metric caveat as ``max_df`` for the affected pairs.

    ``broadcast_hot`` tri-states the hot-shingle exclusion list's join
    strategy (the ``unigram_lm_quality`` ``broadcast_model`` pattern —
    r10 VERDICT residual): the list's cardinality is the number of
    distinct boilerplate shingles, plausibly small but not provably
    constant.

    - ``None`` (default) — hint the broadcast: under a sensible
      ``max_df`` the list is tiny, and a pathological corpus surfaces
      as a broadcast-size error, never silent wrongness (it is an
      anti-join exclusion list).
    - ``True`` — always hint.
    - ``False`` — never hint: the anti-join shuffles on ``sh`` (or AQE
      broadcasts on its own measured size); correct at any list size —
      the boilerplate-heavy 100 TB escape hatch.

    ``shingle_index`` names a :func:`build_shingle_index` table to read
    the inverted index from instead of shingling in-session — the
    repeated-run shape: the self-join and the hot-shingle aggregate
    run exchange-free on the bucket layout, and the shingling cost was
    paid once at build time. The index's ``n`` must match (table
    property, validated) and the index must COVER ``docs`` (a doc
    absent from it pairs with nothing); extra index docs DO change the
    result — they add pairs and, under ``max_df``, shift document
    frequencies — so scope the index to the corpus being deduped.
    """
    if shingle_index is not None:
        spark = docs.sparkSession
        props = _shingle_index_props(spark, shingle_index)
        stored_n = int(props["firebolt.ngram_n"])
        if stored_n != n:
            raise ValueError(
                f"shingle index {shingle_index} was built with "
                f"n={stored_n}, got n={n} — rebuild or match the build "
                f"width"
            )
        sh = spark.table(shingle_index)
        if props.get("firebolt.appended") == "1":
            # defensive exact-once read, paid ONLY once the table has
            # been appended to: an at-least-once replayed append leaves
            # duplicate (doc_id, sh) rows which would corrupt
            # intersection/size COUNTS. The table is clustered on sh,
            # so this dropDuplicates is a partial aggregate with ZERO
            # Exchange (pinned) — and NOT persisted: reading the
            # bucketed parquet is the cheap path, and pinning a
            # corpus-sized index in memory is what the artifact exists
            # to avoid. A build-only table is duplicate-free by
            # construction (shingle_table distincts per doc) and skips
            # the dedup's per-consumer aggregate entirely.
            sh = sh.dropDuplicates(["doc_id", "sh"])
        handles = []
    else:
        # persist: the shingle table feeds FOUR consumers (per-doc
        # sizes, the hot-shingle document-frequency aggregate, and BOTH
        # sides of the inverted-index self-join) — uncached, the
        # O(tokens)-per-row shingle expression re-runs for each. The
        # cached rows are the narrow (doc_id, sh) inverted index itself
        # — exactly what build_shingle_index materializes (bucketed by
        # sh) for the repeated-run case.
        sh = shingle_table(docs, text_col, n).persist()
        handles = [sh]
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None or max_df_count is not None:
        df_agg = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        if max_df is not None:
            # corpus size as an in-plan scalar (1-row aggregate
            # broadcast into the document-frequency filter) — no
            # separate driver-side count() job per invocation, the cap
            # resolves inside the same execution (mirrors the oracle's
            # scalar subquery)
            n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("_n_docs"))
            thr = F.greatest(
                F.floor(F.lit(float(max_df)) * F.col("_n_docs")), F.lit(1)
            )
            if max_df_count is not None:
                # hot if EITHER cap is exceeded = one compare against
                # the lower threshold
                thr = F.least(thr, F.lit(int(max_df_count)))
            hot = (
                df_agg.crossJoin(F.broadcast(n_docs))
                .filter(F.col("df") > thr)
                .select("sh")
            )
        else:
            # absolute cap alone needs no corpus-size scalar at all
            hot = df_agg.filter(
                F.col("df") > F.lit(int(max_df_count))
            ).select("sh")
        # broadcast anti-join by default: see the broadcast_hot
        # tri-state contract in the docstring
        if broadcast_hot or broadcast_hot is None:
            hot = F.broadcast(hot)
        sh = sh.join(hot, "sh", "left_anti")
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # sizes is PER-DOCUMENT (one row per corpus doc): never force-
    # broadcast a corpus-cardinality table — at ~10⁹ docs that is a
    # driver/executor OOM. AQE picks a broadcast join on its own when
    # the table is actually small; the inter side is pair-cardinality,
    # so the fallback shuffle join is narrow (r9 VERDICT Next #2).
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    from firebolt_spark.functions import track_persisted

    return track_persisted(
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold),
        *handles,
    )


def incremental_near_dups(
    new_docs: DataFrame,
    index_signatures: DataFrame | None = None,
    text_col: str = "text",
    k: int = N_MINHASH,
    bands: int = N_BANDS,
    threshold: float = 0.5,
    index_table: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental ingest dedup: check a NEW batch against an existing
    signature index (the realistic 100 TB workflow — the corpus is
    historical state, only the delta is scored).

    ``index_signatures`` is a previously-persisted output of
    ``minhash_signatures``; ``index_table`` names a
    :func:`build_minhash_index` artifact instead — the durable form
    (round 11): signatures read from the ``doc_id``-bucketed ``_sig``
    table and bands from the ``band_hash``-bucketed ``_bands`` table,
    so the candidate band join and the scoring join both run with ZERO
    Exchange on the index side; only the delta is shuffled into the
    layout, and the corpus is never re-banded. Exactly one of the two
    must be passed; the index's stored ``k``/``bands`` are validated
    against the call's.

    Returns (matches, new_signatures): matches are (new_doc_id,
    index_doc_id, est_jaccard ≥ threshold) pairs; new_signatures is the
    delta to append to the index (:func:`append_minhash_index` for the
    on-disk form). Only the delta's shingles are ever computed — cost
    tracks batch size, not corpus size.
    """
    if (index_signatures is None) == (index_table is None):
        raise ValueError(
            "pass exactly one of index_signatures (an in-memory "
            "minhash_signatures DataFrame) or index_table (a "
            "build_minhash_index artifact)"
        )
    if index_table is not None:
        spark = new_docs.sparkSession
        props = _minhash_index_props(spark, index_table)
        stored_k = int(props["firebolt.minhash_k"])
        stored_bands = int(props["firebolt.minhash_bands"])
        if (k, bands) != (stored_k, stored_bands):
            raise ValueError(
                f"minhash index {index_table} was built with "
                f"k={stored_k}, bands={stored_bands}; got k={k}, "
                f"bands={bands} — rebuild or match the build parameters"
            )
        index_signatures = spark.table(f"{index_table}_sig")
        ib = spark.table(f"{index_table}_bands")
        if props.get("firebolt.appended") == "1":
            # defensive exactly-once read, paid only once the table has
            # been appended to (an at-least-once replayed append leaves
            # duplicate rows): duplicate SIGNATURE rows would duplicate
            # match rows, and the dedup is a partial aggregate with
            # zero Exchange on the doc_id-bucketed layout. Duplicate
            # BAND rows only re-surface candidates the DISTINCT below
            # collapses, so the bands read stays untouched.
            index_signatures = index_signatures.dropDuplicates(["doc_id"])
    new_sig = minhash_signatures(new_docs, text_col, k).persist()
    nb = lsh_bands(new_sig, k, bands)
    if index_table is None:
        ib = lsh_bands(index_signatures, k, bands)
    cand = (
        nb.alias("a")
        .join(
            ib.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("index_doc_id"),
        )
        .distinct()
    )
    # single server-side parse — see minhash_candidate_pairs (r17)
    matches = F.expr(_match_sum_sql("ma", "mb", k))
    scored = (
        cand.join(new_sig.alias("ma"), F.col("new_doc_id") == F.col("ma.doc_id"))
        .join(
            index_signatures.alias("mb"),
            F.col("index_doc_id") == F.col("mb.doc_id"),
        )
        .select(
            "new_doc_id",
            "index_doc_id",
            (matches / F.lit(float(k))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return scored, new_sig


def build_minhash_index(
    docs: DataFrame,
    table_name: str,
    text_col: str = "text",
    k: int = N_MINHASH,
    bands: int = N_BANDS,
    num_buckets: int = 32,
) -> None:
    """Materialize the MinHash signature index as TWO bucketed tables —
    the durable artifact :func:`incremental_near_dups`' docstring has
    always promised ("at scale: a table bucketed by band hash"),
    completing the on-disk index family (winnow fingerprints, shingle
    inverted index, LSH/IVF embedding indexes; round 11).

    - ``{table_name}_sig`` — :func:`minhash_signatures` output bucketed
      (and sorted) by ``doc_id``: the scoring join (candidate pairs
      back to full signatures) runs exchange-free on the index side.
    - ``{table_name}_bands`` — :func:`lsh_bands` long format bucketed
      by ``(band, band_hash)``, the candidate join's exact key set: the
      historical corpus is never re-banded or re-shuffled; each ingest
      batch shuffles only ITSELF into the layout.

    ``k``/``bands`` are recorded as table properties on ``_sig`` and
    validated at consumption — a foreign or mismatched layout would
    silently change the band agreement probability. Cost model at
    100 TB: the build pays the corpus signature scan and two bucket
    shuffles ONCE; every later ingest batch pays only its own shingles
    plus two delta-sized shuffles (``incremental_near_dups(new_docs,
    index_table=...)``).
    """
    from firebolt_spark.functions import write_bucketed

    spark = docs.sparkSession
    write_bucketed(
        minhash_signatures(docs, text_col, k), f"{table_name}_sig",
        ["doc_id"], num_buckets=num_buckets, sort_cols=["doc_id"],
    )
    # derive bands by re-reading the saved table: one scan of the
    # narrow signature parquet instead of re-running the O(tokens)
    # signature expressions over the corpus text a second time
    write_bucketed(
        lsh_bands(spark.table(f"{table_name}_sig"), k, bands),
        f"{table_name}_bands", ["band", "band_hash"],
        num_buckets=num_buckets, sort_cols=["band", "band_hash"],
    )
    spark.sql(
        f"ALTER TABLE {table_name}_sig SET TBLPROPERTIES "
        f"('firebolt.minhash_k' = '{int(k)}', "
        f"'firebolt.minhash_bands' = '{int(bands)}')"
    )


def append_minhash_index(new_signatures: DataFrame, table_name: str) -> None:
    """Append an ingest batch's signatures (the ``new_signatures`` half
    of :func:`incremental_near_dups`' return) to a
    :func:`build_minhash_index` artifact — both tables, each in its
    existing bucket layout. Cost tracks the batch; the historical
    corpus is never re-signed.

    Same at-least-once contract as :func:`append_shingle_index`:
    warehouse tables have no ``_batches`` sidecar, so a replayed append
    duplicates rows in storage, and the ``firebolt.appended`` property
    (set here) tells consumers to pay a defensive exchange-free
    ``dropDuplicates`` on the ``_sig`` read (duplicate signature rows
    would duplicate match rows; duplicate band rows only re-surface
    candidates the join's DISTINCT already collapses). Signatures are
    deterministic in the text, so a replayed row is bit-identical and
    any surviving duplicate is safe to drop. Rebuild to reclaim the
    duplicate storage.
    """
    from firebolt_spark.functions import write_bucketed

    spark = new_signatures.sparkSession
    props = _minhash_index_props(spark, table_name)
    k = int(props["firebolt.minhash_k"])
    bands = int(props["firebolt.minhash_bands"])

    def buckets_of(tbl: str) -> int:
        # the append must restate the EXISTING bucket spec (Spark
        # refuses a mismatch rather than silently breaking the layout)
        info = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        }
        return int(info["Num Buckets"])

    # flag-first ordering (see append_shingle_index): a crash after a
    # replayed append's write but before the ALTER would otherwise
    # leave duplicate signature rows with the flag unset, silently
    # duplicating match rows; a prematurely-set flag merely costs one
    # harmless dedup on read.
    _stamp_appended(spark, f"{table_name}_sig")
    write_bucketed(
        new_signatures, f"{table_name}_sig", ["doc_id"],
        num_buckets=buckets_of(f"{table_name}_sig"),
        sort_cols=["doc_id"], mode="append",
    )
    write_bucketed(
        lsh_bands(new_signatures, k, bands), f"{table_name}_bands",
        ["band", "band_hash"],
        num_buckets=buckets_of(f"{table_name}_bands"),
        sort_cols=["band", "band_hash"], mode="append",
    )
    # gen-last: make this append visible to a compaction that
    # snapshotted while either write above was running
    _stamp_appended(spark, f"{table_name}_sig")


def _minhash_index_props(spark, table_name: str) -> dict:
    """Table properties of a :func:`build_minhash_index` artifact
    (stored on the ``_sig`` table). Refuses a table without the
    ``k``/``bands`` properties — consuming a foreign or hand-written
    layout would skip the parameter validation and silently change the
    band agreement probability (the ``_meta``-absent contract of the
    ANN indexes, restated for warehouse tables)."""
    props = {
        r["key"]: r["value"]
        for r in spark.sql(
            f"SHOW TBLPROPERTIES {table_name}_sig"
        ).collect()
    }
    if (
        "firebolt.minhash_k" not in props
        or "firebolt.minhash_bands" not in props
    ):
        raise ValueError(
            f"table {table_name}_sig has no firebolt.minhash_k/"
            f"firebolt.minhash_bands properties — not a "
            f"build_minhash_index artifact; refusing to use it"
        )
    return props


def text_index_stats(spark, index: str) -> DataFrame:
    """Join-key population profile of an on-disk text-dedup index — the
    text analogue of :func:`firebolt_spark.operators.
    similarity.index_stats`, and the cap/reindex-decision input:

    - for a :func:`build_shingle_index` table the key is ``sh``, so the
      output IS the shingle document-frequency profile — read the top
      rows to pick ``max_df`` / ``max_df_count`` empirically instead of
      guessing (a df² blowup is visible here before the join pays it);
    - for a :func:`build_minhash_index` artifact the key is
      ``(band, band_hash)`` over the ``_bands`` table — a dominant
      bucket means the candidate join concentrates there (degenerate
      clone sets, empty-text signatures); revisit ``k``/``bands`` or
      the corpus hygiene;
    - for a :func:`build_winnow_index` PATH (an ``index`` containing a
      ``/``) the key is ``fingerprint`` with a distinct-document count —
      a fingerprint shared by most of the corpus means candidate
      discovery degenerates toward the unrestricted pass (every sharer
      is a candidate); clean the boilerplate span or skip the
      restriction.

    One row per key value with its member count, descending. Only the
    key columns are scanned (column-pruned; no text or signatures
    move); on the warehouse tables the aggregate is exchange-free on
    the bucket layout. Refuses anything that is not one of the three
    artifact kinds."""
    if "/" in index:
        from firebolt_spark.operators.similarity import _read_index_meta

        meta = _read_index_meta(spark, index)
        if meta is None or "span_words" not in meta or "id_col" not in meta:
            raise ValueError(
                f"{index} is not a build_winnow_index artifact (no "
                f"_meta sidecar with span_words/id_col) — refusing to "
                f"profile it"
            )
        rows = spark.read.parquet(index)
        return (
            rows.groupBy("fingerprint")
            .agg(F.countDistinct(meta["id_col"]).alias("n_docs"))
            .orderBy(F.col("n_docs").desc(), "fingerprint")
        )
    shingle_props = None
    try:
        shingle_props = _shingle_index_props(spark, index)
    except Exception:
        pass
    if shingle_props is not None:
        keyed = spark.table(index).select("sh")
        keys = ["sh"]
    else:
        try:
            _minhash_index_props(spark, index)
        except Exception as exc:
            raise ValueError(
                f"{index} is neither a build_shingle_index table nor a "
                f"build_minhash_index artifact prefix — refusing to "
                f"profile it"
            ) from exc
        keyed = spark.table(f"{index}_bands").select("band", "band_hash")
        keys = ["band", "band_hash"]
    return (
        keyed.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), *keys)
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → dedup clusters.

    Pairs say "these two are near-dups"; choosing canonical documents
    needs the transitive closure. Iterative min-label propagation: each
    node's label is the minimum doc_id reachable from it; iterate
    min-over-neighbors until fixpoint (O(component diameter) rounds,
    each one join + groupBy). The result — (doc_id, cluster_id=min id
    in component) — is iteration-order independent, so it is
    oracle-checkable against a recursive-CTE closure.

    At 100 TB scale: labels/edges are two slim columns; each round
    shuffles by node id; alternate large-star/small-star if diameters
    get long (corpus dedup graphs are shallow in practice).
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("n_min"))
        )
        # localCheckpoint truncates lineage: each round's plan embeds
        # the previous labels twice (neighbor-min + update join), so an
        # un-truncated plan doubles per round and the DRIVER dies
        # cloning it after ~15 rounds — data size is irrelevant.
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("n_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def dedup_clusters_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    telemetry: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — converges in O(log n) rounds regardless of component
    diameter, where plain min-label propagation (``dedup_clusters``)
    needs O(diameter) rounds and a 1M-doc near-dup *chain* would mean
    1M shuffles.

    large-star: every node links its larger neighbors to the minimum
    of its closed neighborhood; small-star: links its smaller-or-self
    members to that minimum. At fixpoint the edge set is a star forest
    (member → component-minimum), so the output contract is identical
    to ``dedup_clusters``: (doc_id, cluster_id = min id in component),
    deterministic and oracle-checkable.

    Each round is two join+groupBy passes over a two-column edge set —
    the same per-round shuffle cost as propagation, exponentially fewer
    rounds on deep graphs.

    Self-pairs (a == b) are ignored entirely — they carry no
    connectivity and never occur in this package's pair generators
    (which all emit ``a < b``).

    ``telemetry`` (optional dict) is filled with ``rounds`` and
    ``driver_actions`` — the count of blocking driver-side actions the
    convergence loop issued (VERDICT r4 #6 contract): **rounds + 2** on
    normal convergence (one stats aggregate per round, one initial, one
    exceptAll confirm at the detected fixpoint). Edge cases: a
    ``max_iter`` cutoff skips the confirm, so **rounds + 1**; a
    (count, checksum) collision that exceptAll then refutes adds one
    extra confirm per collision — astronomically rare with the
    xor-of-xxhash64 checksum, but the contract is "+1 per collision",
    not "never".
    """
    # canonical undirected edges as (lo, hi), no self-loops.
    # localCheckpoint (here and per round) truncates the logical plan:
    # each round references the previous edge set ~4× (symmetrize + two
    # joins), so without truncation the plan grows 4^rounds and the
    # driver OOMs cloning it long before the data is large. On a real
    # cluster prefer spark.sparkContext.setCheckpointDir + .checkpoint()
    # for executor-loss resilience; the topology is identical.
    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # node set from the CHECKPOINTED edges, not from pairs — evaluating
    # pairs twice would run the whole upstream candidate computation
    # again (every pair row yields an edge, so the node sets are equal;
    # self-pairs are impossible with a_col < b_col conventions)
    nodes = (
        edges.select(F.col("lo").alias("node"))
        .unionAll(edges.select(F.col("hi").alias("node")))
        .distinct()
        .persist()
    )

    def symmetric(e: DataFrame) -> DataFrame:
        return e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionAll(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    def closed_min(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    actions = 0

    def stats(e: DataFrame):
        # one scan, no shuffle beyond the single-row final aggregate:
        # (row count, order-independent xor checksum of the edge set)
        nonlocal actions
        actions += 1
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(lo, hi))").alias("h"),
        ).first()

    prev = stats(edges)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = symmetric(edges)
        mins = closed_min(sym)
        # large-star: (v, m) for neighbors v > u; m ≤ u < v so m < v
        ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct()
        )
        sym2 = symmetric(ls)
        mins2 = closed_min(sym2)
        # small-star: (v, m) for neighbors v < u, plus (u, m) itself
        ss = (
            sym2.filter(F.col("v") < F.col("u"))
            .join(mins2, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .unionAll(mins2.select(F.col("m").alias("lo"), F.col("u").alias("hi")))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ONE action per round (VERDICT r4 #6; was 3): the stats
        # aggregate both materializes the lazy checkpoint and reads
        # (count, xor-of-hashes) of the new edge set. Sets are equal
        # only if both match the previous round's (false-converge needs
        # a 64-bit xor-checksum collision between consecutive rounds);
        # a deterministic exceptAll CONFIRMS equality exactly once, at
        # the detected fixpoint, instead of running every round.
        cur = stats(ss)
        maybe_unchanged = cur == prev
        if maybe_unchanged:
            actions += 1
            if ss.exceptAll(edges).limit(1).count() > 0:
                maybe_unchanged = False  # checksum collision: iterate on
        edges, prev = ss, cur
        if maybe_unchanged:
            break
    if telemetry is not None:
        telemetry["rounds"] = rounds
        telemetry["driver_actions"] = actions
    # at fixpoint every non-root node has exactly one star edge; the
    # min() also covers a max_iter cutoff mid-convergence gracefully
    roots = edges.groupBy(F.col("hi").alias("node")).agg(
        F.min("lo").alias("root")
    )
    labels = nodes.join(roots, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("root"), F.col("node")).alias("cluster_id"),
    )
    nodes.unpersist()
    return labels


def _hexval(expr: str) -> str:
    """SQL: value 0-15 of one hex char expression."""
    return f"(instr('0123456789abcdef', {expr}) - 1)"


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc simhash fingerprint (bits dims, packed into one BIGINT).

    Dimension i's bit for a token is bit (i%4) of hex digit (i//4) of
    md5(token); the doc's dim sign is the majority over tokens (with
    multiplicity) — the standard simhash construction with md5 as the
    hash family. One explode + one groupBy; fingerprints are
    engine-portable (the DuckDB oracle reproduces them digit-for-digit).

    Bit 63 is packed via its two's-complement value (adding 2^63 would
    overflow a signed BIGINT; adding -2^63 yields the identical bit
    pattern in both engines).

    Shape note (measured, round 3): explode+groupBy is the RIGHT form
    here, unlike minhash_signatures. The hash aggregate does map-side
    partial aggregation, so the shuffle carries one (doc_id, 64 ints)
    partial row per doc per map partition — not per-token rows — and
    the 64 conditional sums run in whole-stage-codegen. The per-row
    ``aggregate()`` higher-order-fold alternative avoids even that
    shuffle but evaluates interpreted per element: 2.8 s vs 2.2 s at
    sf0.1, so codegen wins over shuffle avoidance for this op.

    Round 4: tokens are counted per doc FIRST (groupBy(doc_id, tok))
    and each distinct token is hashed once, its bit signs weighted by
    the count — sum(cnt * sign) ≡ sum-over-occurrences(sign), so
    fingerprints are bit-identical while md5+conv work drops from
    per-occurrence to per-distinct-token (natural text repeats tokens
    heavily). The count aggregate partial-aggregates map-side, so the
    extra exchange carries (doc_id, tok, cnt) distinct rows — cheaper
    than the hashing it saves (measured ~35% off the fingerprint
    stage at sf0.1).
    """
    tok = docs.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tok = tok.withColumn("h", F.md5(F.col("tok")))
    # Pack the first 16 hex chars into two 32-bit ints ONCE per token,
    # then read each dimension as a bit shift — identical bits to the
    # per-digit instr/substr form (hex char j is nibble (7-j) / (15-j)
    # of the big-endian conv value), but 2 string ops per token instead
    # of 64. The fingerprint aggregation dominates simhash cost; this
    # keeps it whole-stage-codegen arithmetic.
    tok = tok.withColumn(
        "v_hi", F.conv(F.substring("h", 1, 8), 16, 10).cast("long")
    ).withColumn("v_lo", F.conv(F.substring("h", 9, 8), 16, 10).cast("long"))

    def bit_sign(i: int) -> str:
        j = i // 4
        col, shift = (
            ("v_hi", 4 * (7 - j) + (i % 4))
            if j < 8
            else ("v_lo", 4 * (15 - j) + (i % 4))
        )
        return f"CASE WHEN (shiftright({col}, {shift}) & 1) = 1 THEN cnt ELSE -cnt END"

    # ONE aggregate expression, parsed server-side in a single call
    # (r17): the previous form built 64 sum() columns plus a 64-term
    # when/otherwise packing chain through the Python Column API —
    # ~250 py4j round trips, >1 s of DRIVER time per construction
    # (measured; the bench pays it on every run, and a 100 TB driver
    # pays it per job submission). The fused string is the identical
    # expression tree — sum(±cnt) per dimension, bit set iff the sum is
    # positive — so fingerprints are bit-identical; shiftleft(1L, i)
    # reproduces bit i's two's-complement value including i = 63
    # (shiftleft(1L, 63) IS min-long, the -(1<<63) the packed chain
    # used), and every shiftleft folds to a constant at optimization.
    packed_sql = " + ".join(
        f"(CASE WHEN sum({bit_sign(i)}) > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return tok.groupBy("doc_id").agg(
        F.expr(f"CAST({packed_sql} AS BIGINT)").alias("simhash")
    )


def simhash_blocks(
    fingerprints: DataFrame, bits: int = SIMHASH_BITS, n_blocks: int = 4
) -> DataFrame:
    """Long-format pigeonhole blocks: (doc_id, simhash, block, block_val).

    The fingerprint is split into ``n_blocks`` contiguous bit ranges;
    any two fingerprints within Hamming distance ``n_blocks - 1`` must
    agree *exactly* on at least one block (pigeonhole principle), so an
    equi-join on (block, block_val) generates a complete — and at
    realistic near-dup densities sub-quadratic — candidate set.
    Arithmetic shift-right sign bits are masked off by the block mask.

    Emitted as one ``posexplode`` over an in-row array of block values
    (round 4) rather than an n_blocks-way unionAll: one scan of the
    (persisted) fingerprint table instead of n, same rows.
    """
    base, rem = divmod(bits, n_blocks)
    vals = []
    offset = 0
    for blk in range(n_blocks):
        width = base + (1 if blk < rem else 0)
        mask = (1 << width) - 1
        vals.append(f"shiftright(simhash, {offset}) & {mask}")
        offset += width
    arr = F.expr("array(" + ", ".join(vals) + ")")
    return fingerprints.select(
        "doc_id", "simhash", F.posexplode(arr).alias("block", "block_val")
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ max_hamming.

    Candidate generation is the pigeonhole block join (max_hamming+1
    blocks, equi-join on exact block match) — NOT an all-pairs cross
    join — then bit_count(xor) verifies the true distance. Exact: every
    pair within max_hamming shares ≥1 block, so nothing is missed; the
    equi-join keys make this a shuffled hash join whose cost tracks
    bucket density, not |corpus|². The fingerprint table is persisted
    once and feeds all blocks.

    ``max_bucket`` (see ``cap_bucket_size``) drops degenerate
    (block, block_val) buckets before the self-join; with it set the
    pigeonhole completeness guarantee no longer covers pairs inside
    capped buckets — run exact dedup upstream. At 100 TB always set it.
    """
    s = simhash(docs, text_col).persist()
    blk = cap_bucket_size(
        simhash_blocks(s, n_blocks=max_hamming + 1),
        ["block", "block_val"],
        max_bucket,
    )
    a, b = blk.alias("a"), blk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # filter BEFORE the distinct: a pair agreeing on k blocks is
        # emitted k times, so distinct must run — but only the (few)
        # pairs inside max_hamming need to reach it, not the whole
        # candidate set. Catalyst can't push this itself (the filter
        # sits above the Aggregate in the user plan).
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    from firebolt_spark.functions import track_persisted

    return track_persisted(cand, s)


def doc_spans(
    docs: DataFrame,
    span_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tile each document into fixed-width word windows ("spans").

    The unit of span-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": duplicated TRAINING
    WINDOWS, not just whole documents, drive memorization — boilerplate
    headers/footers repeat across millions of otherwise-distinct
    pages). Non-overlapping tiles of ``span_words`` whitespace tokens;
    the last tile keeps the remainder. Emits (id, pos, span).
    """
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    # NULL text hashes/tiles as the empty string: size(NULL) is -1 under
    # Spark's legacy sizeOfNull and sequence(0, -2) would descend — a
    # NULL-text doc must behave exactly like an empty one, not emit junk.
    # The tokenization is bound ONCE via the outer single-element
    # transform (word_shingles lesson): a lambda referencing the split
    # expression directly would re-split the text per tile.
    k = span_words
    spans = F.expr(
        f"transform(array(split(trim(coalesce({text_col}, '')), ' ')), t -> "
        f"transform(sequence(0, int(ceil(size(t) / {k}.0)) - 1), "
        f"i -> array_join(slice(t, i * {k} + 1, {k}), ' ')))[0]"
    )
    # posexplode_outer, NOT posexplode: InferFiltersFromGenerate would
    # add a size(spans) > 0 pre-filter whose pushdown inlines the whole
    # tiling expression a second time per row — and the array is never
    # empty anyway (a NULL/empty text tiles as one '' span). The
    # isNotNull guard keeps semantics identical on the impossible
    # empty case and cannot be pushed below the Generate.
    return (
        docs.select(
            F.col(id_col),
            F.posexplode_outer(spans).alias("pos", "span"),
        )
        .filter(F.col("pos").isNotNull())
    )


def dedup_spans(
    docs: DataFrame,
    span_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact dedup: drop every repeated word-window across
    the corpus (keeping its first occurrence in (id, pos) order) and
    reassemble each document from its surviving spans.

    Returns one row per input document:
    ``(id, n_spans int, n_kept int, text_dedup string)`` — a document
    whose every span already appeared elsewhere comes back empty, the
    span-level analogue of dropping an exact-duplicate doc.

    Scale shape (the part that matters at 100 TB): the global
    keep-first decision runs on the NARROW projection (id, pos,
    digest) — one shuffle of 16-byte digests, document bodies never
    enter it. Winning positions are folded to one int-array row per
    doc (second narrow shuffle), then joined back to the original
    docs on ``id_col``, where the surviving text is rebuilt IN-ROW
    from the kept positions (slice + array_join over the already-held
    words — no exploded text is ever shuffled or regrouped). Bodies
    therefore move through exactly one equi-join on the doc key —
    zero with a doc-bucketed layout (``functions.write_bucketed``).

    Keep-first is a total order (digest → min (id, pos)), so the
    result is deterministic and engine-portable; the DuckDB oracle
    replays the same rule verbatim.
    """
    # unhex: the digest is internal (only min-(id, pos)-per-digest
    # matters, and unhex is bijective so the groups are identical) —
    # BINARY(16) halves the one digest shuffle vs 32-char hex (r17,
    # guide §2.3 narrower types), making the claim above literally true
    meta = doc_spans(docs, span_words, text_col, id_col).select(
        id_col, "pos", F.unhex(F.md5(F.col("span"))).alias("digest")
    )
    return _rebuild_from_kept(
        docs, _keep_first_positions(meta, id_col), span_words, text_col, id_col
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """Line-level exact dedup across the corpus — the classic C4 move
    (Raffel et al. 2020 §2.2 deployed deduplication at line
    granularity over Common Crawl): every line whose exact content
    appeared earlier, anywhere in the corpus, is removed (keeping its
    first occurrence in (id, line position) order) and each document
    is reassembled from its surviving lines.

    Lines whose trimmed length is under ``min_chars`` are always KEPT:
    empty lines and whitespace are document structure, not content —
    deduping them would fuse every paragraph break in the corpus into
    one survivor.

    Returns one row per input document:
    ``(id, n_lines int, n_kept int, text_dedup string)``.

    Scale shape: identical topology to :func:`dedup_spans`, at line
    instead of word-window granularity — the global keep-first
    decision runs on the narrow (id, pos, digest) stream (min-struct
    aggregation, map-side combined, so heavily-boilerplated corpora
    shuffle one row per distinct line per map partition), kept
    positions come back as one sorted int-array row per doc, and
    bodies cross exactly one doc-key equi-join where the surviving
    text is rebuilt IN-ROW (two-arg transform + filter + array_join
    over the row's own lines). Deterministic total order (digest →
    min (id, pos)); the DuckDB oracle replays the identical rule.
    """
    # unhex: the one-shot path keeps the digest in-plan, so BINARY(16)
    # halves the keep-first shuffle (r17, guide §2.3). _line_meta stays
    # hex — the incremental path persists its digests to the on-disk
    # line index, whose column format is part of the operator contract.
    meta = _line_meta(docs, text_col, id_col, min_chars).withColumn(
        "digest", F.unhex("digest")
    )
    return _rebuild_lines(
        docs, _keep_first_positions(meta, id_col), text_col, id_col,
        min_chars,
    )


def incremental_dedup_lines(
    new_docs: DataFrame,
    line_index: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Incremental line-level dedup: scrub a NEW ingest batch against a
    persisted line-digest index — the ingest-loop face of
    :func:`dedup_lines`, exactly as :func:`incremental_dedup_spans` is
    for span tiles (the corpus is historical state; only the delta is
    split and scored).

    ``line_index`` is a single-column ``(digest)`` DataFrame of every
    dedupable line already admitted (``None`` = empty). A new line
    survives iff its digest is absent from the index AND it is the
    first occurrence within the batch (same keep-first total order as
    ``dedup_lines``); sub-``min_chars`` lines are structure and always
    survive. Returns ``(deduped, new_digests)`` — ``deduped`` in the
    ``dedup_lines`` contract, ``new_digests`` the distinct digests to
    append to the index (at 100 TB: a table bucketed by digest so the
    anti-join is co-located and the append a partitioned write).

    Cost tracks the batch: the index is touched only by a narrow
    digest anti-join, batch bodies cross one doc-key join, and nothing
    rescans the historical corpus.
    """
    meta = _line_meta(new_docs, text_col, id_col, min_chars)
    # persist: both outputs derive from the anti-joined line set (the
    # incremental_dedup_spans precedent) — release via
    # functions.release(deduped) after materializing both outputs.
    fresh = (
        meta.join(line_index.select("digest"), "digest", "left_anti")
        if line_index is not None
        else meta
    ).persist()
    deduped = _rebuild_lines(
        new_docs, _keep_first_positions(fresh, id_col), text_col, id_col,
        min_chars,
    )
    new_digests = fresh.select("digest").distinct()
    from firebolt_spark.functions import track_persisted

    return track_persisted(deduped, fresh), new_digests


def _line_split_expr(text_col: str) -> str:
    return f"split(coalesce({text_col}, ''), '\\n', -1)"


def _line_meta(
    docs: DataFrame, text_col: str, id_col: str, min_chars: int
) -> DataFrame:
    """The dedupable (id, pos, digest) line stream shared by the
    one-shot and incremental paths (sub-min_chars lines never enter —
    they are structure, kept unconditionally at rebuild)."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode_outer(F.expr(_line_split_expr(text_col))).alias(
            "pos", "line"
        ),
    ).filter(F.col("line").isNotNull())
    return lines.filter(
        F.length(F.trim(F.col("line"))) >= min_chars
    ).select(id_col, "pos", F.md5(F.col("line")).alias("digest"))


def _rebuild_lines(
    docs: DataFrame,
    kept: DataFrame,
    text_col: str,
    id_col: str,
    min_chars: int,
) -> DataFrame:
    """Left-join kept line positions back to the docs and rebuild the
    surviving text in-row (two-arg transform + filter + array_join
    over the row's own lines); sub-min_chars lines always survive."""
    split_expr = _line_split_expr(text_col)
    survivors = (
        f"filter(transform({split_expr}, (x, i) -> "
        f"CASE WHEN length(trim(x)) < {int(min_chars)} "
        f"OR array_contains(coalesce(_kept_pos, array()), i) "
        f"THEN x END), x -> x IS NOT NULL)"
    )
    return docs.join(kept, id_col, "left").select(
        F.col(id_col),
        F.expr(f"size({split_expr})").cast("int").alias("n_lines"),
        F.expr(f"size({survivors})").cast("int").alias("n_kept"),
        F.expr(f"array_join({survivors}, '\\n')").alias("text_dedup"),
    )


def _keep_first_positions(meta: DataFrame, id_col: str) -> DataFrame:
    """keep-first == min (id, pos) per digest — an aggregation, not a
    row_number window: partial (map-side) aggregation collapses
    duplicate digests before the shuffle, so heavily-duplicated corpora
    (the ones worth deduping) shuffle far less than the full span list a
    sort-based window would move — and the winners ARE the kept
    coordinates, no rank-filter join needed. Returns one row per doc:
    (id, _kept_pos sorted int array)."""
    return (
        meta.groupBy("digest")
        .agg(F.min(F.struct(id_col, "pos")).alias("w"))
        .groupBy(F.col(f"w.{id_col}").alias(id_col))
        .agg(F.array_sort(F.collect_list("w.pos")).alias("_kept_pos"))
    )


def _rebuild_from_kept(
    docs: DataFrame,
    kept: DataFrame,
    span_words: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Join the kept span positions back to the docs and rebuild the
    surviving text in-row (the single place the tile/rebuild expression
    lives — batch and incremental span dedup both call it)."""
    words = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), " ")
    n_spans = F.ceil(F.size(words) / F.lit(float(span_words))).cast("int")
    # bind the tokenization ONCE via the outer single-element transform
    # (the word_shingles lesson): referencing the words expression from
    # inside the per-position lambda would re-split the text for every
    # kept span — O(tokens × spans) per row instead of O(tokens)
    rebuilt = F.expr(
        f"transform(array(split(trim(coalesce({text_col}, '')), ' ')), t -> "
        f"array_join(transform(coalesce(_kept_pos, array()), "
        f"p -> array_join(slice(t, p * {span_words} + 1, {span_words}), ' ')), "
        f"' '))[0]"
    )
    return (
        docs.join(kept, id_col, "left")
        .select(
            F.col(id_col),
            n_spans.alias("n_spans"),
            F.size(F.coalesce(F.col("_kept_pos"), F.array())).cast("int").alias(
                "n_kept"
            ),
            rebuilt.alias("text_dedup"),
        )
    )


def incremental_dedup_spans(
    new_docs: DataFrame,
    span_index: DataFrame | None = None,
    span_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Incremental span-level dedup: scrub a NEW ingest batch against a
    persisted span-digest index (the ingest-loop face of
    :func:`dedup_spans`, exactly as :func:`incremental_near_dups` is
    for minhash — the corpus is historical state, only the delta is
    tiled and scored).

    ``span_index`` is a single-column ``(digest)`` DataFrame of every
    span already admitted to the corpus (``None`` = empty). A new span
    survives iff its digest is absent from the index AND it is the
    first occurrence within the batch (same keep-first total order as
    ``dedup_spans``). Returns ``(deduped, new_digests)``:

    - ``deduped`` — one row per new doc, the ``dedup_spans`` contract
      ``(id, n_spans, n_kept, text_dedup)``;
    - ``new_digests`` — the distinct digests this batch adds; append to
      the index (at 100 TB: a table bucketed by digest so the anti-join
      below is co-located and the append is a partitioned write).

    Cost tracks the batch: the index is touched only by a narrow
    digest anti-join; batch bodies cross one doc-key join (as in
    dedup_spans); nothing rescans the historical corpus.
    """
    meta = doc_spans(new_docs, span_words, text_col, id_col).select(
        id_col, "pos", F.md5(F.col("span")).alias("digest")
    )
    # persist: BOTH outputs derive from the anti-joined span set — the
    # ingest loop materializes deduped AND new_digests, and without the
    # persist each write re-tiles the batch and re-scans the historical
    # digest index (the incremental_near_dups precedent). Release via
    # functions.release(deduped) after materializing both outputs.
    fresh = (
        meta.join(span_index.select("digest"), "digest", "left_anti")
        if span_index is not None
        else meta
    ).persist()
    deduped = _rebuild_from_kept(
        new_docs, _keep_first_positions(fresh, id_col), span_words,
        text_col, id_col,
    )
    new_digests = fresh.select("digest").distinct()
    from firebolt_spark.functions import track_persisted

    return track_persisted(deduped, fresh), new_digests


def doc_windows(
    docs: DataFrame,
    span_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every OVERLAPPING ``span_words``-word window of each document —
    the offset-invariant counterpart of :func:`doc_spans`' fixed tiles.

    Window start positions are every word index ``0 .. n - span_words``
    (a document shorter than ``span_words`` emits its whole text as one
    window), so a passage duplicated at ANY word offset in two
    documents produces identical windows in both — the property fixed
    tiling lacks (a +1-word shift re-tiles everything; VERDICT r7
    "Next #1"). Emits (id, pos, span): ~1 window per word, i.e.
    ``span_words``× the digest volume of tiling — pay it when offset
    robustness matters, or winnow the index (:func:`winnow_fingerprints`)
    when only candidate DETECTION must be offset-robust.

    NULL text windows as the empty string (the :func:`doc_spans`
    convention). Tokenization is bound once via the outer
    single-element transform (the word_shingles lesson).
    """
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    k = span_words
    spans = F.expr(
        f"transform(array(split(trim(coalesce({text_col}, '')), ' ')), t -> "
        f"transform(sequence(0, greatest(size(t) - {k}, 0)), "
        f"p -> array_join(slice(t, p + 1, {k}), ' ')))[0]"
    )
    # posexplode_outer + isNotNull: avoids the inferred size(...) > 0
    # pre-filter whose pushdown re-inlines the window expression (see
    # doc_spans); the array always has >= 1 element, so semantics are
    # identical.
    return (
        docs.select(
            F.col(id_col),
            F.posexplode_outer(spans).alias("pos", "span"),
        )
        .filter(F.col("pos").isNotNull())
    )


def dedup_spans_overlap(
    docs: DataFrame,
    span_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Offset-robust span-level dedup (the ExactSubstr semantics of Lee
    et al. 2022 at window granularity): a word is REMOVED iff it is
    covered by some ``span_words``-word window whose content appeared
    earlier in the corpus' (id, pos) total order. Because every
    overlapping window is hashed (:func:`doc_windows`), a duplicated
    passage of >= ``span_words`` words is caught at ANY word offset —
    the exact gap of :func:`dedup_spans`' fixed tiles, which only match
    tile-aligned duplicates (VERDICT r7 "Next #1").

    Returns one row per document:
    ``(id, n_words int, n_kept int, text_dedup string)`` — word counts,
    not window counts: the removal unit here is the covered WORD, and
    surviving words keep their original relative order.

    Keep-first detail: the winning (first) occurrence of each window
    keeps its words; every LATER occurrence's window footprint
    ``[pos, pos + span_words)`` is removed from its document. Within
    one document a self-repeated phrase therefore keeps only its first
    copy, as across documents.

    Scale shape: identical topology to :func:`dedup_spans` — the
    keep-first decision runs on the narrow (id, pos, digest) stream
    (min-struct aggregation, map-side combined), losing windows come
    back as one sorted int-array row per doc (second narrow shuffle),
    and bodies cross exactly one doc-key equi-join where the surviving
    text is rebuilt IN-ROW (coverage flags + array_except over word
    indices — O(words + removed) per row). The cost difference is
    volume, not topology: ~``span_words``× more digests shuffle than
    tiling. At 100 TB, run the winnowed fingerprint index first to
    restrict this pass to documents with candidate overlaps.

    Deterministic total order (digest → min (id, pos)); the DuckDB
    oracle replays the identical rule.
    """
    from firebolt_spark.functions import track_persisted

    dup_pos, meta = _overlap_dup_pos(docs, span_words, text_col, id_col)
    return track_persisted(
        _rebuild_overlap(docs, dup_pos, span_words, text_col, id_col),
        meta,
    )


def _overlap_dup_pos(
    scope: DataFrame, span_words: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The keep-first decision of :func:`dedup_spans_overlap` over the
    given document scope: one (id, _dup_pos sorted int array) row per
    doc that LOSES at least one overlapping window. Narrow (id, pos,
    digest) streams only. Returns ``(dup_pos, meta)`` — meta is the
    PERSISTED window-digest stream (it feeds both the winners
    aggregate and the losing-occurrence join; uncached, the window
    tiling and md5 pass run twice — sf1: 13→10.7 s); callers attach it
    via ``track_persisted`` for release after materialization."""
    # unhex: digest never leaves this subtree and unhex is bijective —
    # BINARY(16) halves both the digest shuffle and the persisted cache
    # vs 32-char hex (r17, guide §2.3 narrower types)
    meta = doc_windows(scope, span_words, text_col, id_col).select(
        id_col, "pos", F.unhex(F.md5(F.col("span"))).alias("digest")
    ).persist()
    winners = meta.groupBy("digest").agg(
        F.min(F.struct(id_col, "pos")).alias("w")
    )
    # losing occurrences: same digest, not the winning (id, pos)
    dup_pos = (
        meta.join(winners, "digest")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"w.{id_col}"))
                & (F.col("pos") == F.col("w.pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_dup_pos"))
    )
    return dup_pos, meta


def _rebuild_overlap(
    docs: DataFrame,
    dup_pos: DataFrame,
    span_words: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Left-join the losing-window positions back to the docs and
    rebuild surviving text in-row — docs with no ``_dup_pos`` row pass
    through verbatim (the single rebuild used by both the unrestricted
    and the candidate-restricted overlap dedup)."""
    k = span_words
    words = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), " ")
    n_words = F.size(words)
    # in-row rebuild: expand each losing window to its covered word
    # indices, subtract from the full index range, project the words.
    # array_except is hash-set based: O(words + removed), not O(w x d).
    rebuilt = F.expr(
        f"transform(array(split(trim(coalesce({text_col}, '')), ' ')), t -> "
        f"array_join(transform("
        f"  array_except("
        f"    sequence(0, size(t) - 1),"
        f"    array_distinct(flatten(transform(coalesce(_dup_pos, array()), "
        f"      p -> sequence(p, least(p + {k} - 1, size(t) - 1)))))),"
        f"  i -> element_at(t, i + 1)), ' '))[0]"
    )
    kept_n = F.expr(
        f"transform(array(split(trim(coalesce({text_col}, '')), ' ')), t -> "
        f"size(array_except("
        f"  sequence(0, size(t) - 1),"
        f"  array_distinct(flatten(transform(coalesce(_dup_pos, array()), "
        f"    p -> sequence(p, least(p + {k} - 1, size(t) - 1))))))))[0]"
    )
    return docs.join(dup_pos, id_col, "left").select(
        F.col(id_col),
        n_words.alias("n_words"),
        kept_n.cast("int").alias("n_kept"),
        rebuilt.alias("text_dedup"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    span_words: int = 16,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer, Wilkerson & Aiken
    2003, the MOSS algorithm): hash every overlapping ``span_words``-
    word gram, then keep only the MINIMUM hash of each ``window``
    consecutive grams. Guarantee: two documents sharing a passage of at
    least ``window + span_words - 1`` words share >= 1 fingerprint,
    at ANY word offset — while the index stays ~``2/(window+1)`` of
    the full overlapping-gram volume, i.e. near tile-sized for
    ``window ~ span_words``.

    This is the 100 TB companion to :func:`dedup_spans_overlap`: join
    fingerprint tables to find candidate document pairs (offset-robust
    by the guarantee above), then run the exact overlapping-window pass
    only over the candidates. Emits distinct ``(id, fingerprint)``
    rows; the whole gram-hash/min-select runs IN-ROW (no gram ever
    leaves its document's row), so the only shuffle is the final
    distinct on the already-winnowed set.

    The 60-bit gram hash (see :func:`_gram_list`) is the first 15 hex
    digits of the gram's md5 as a BIGINT, so the selected minima — and
    hence the fingerprint set — are engine-portable (DuckDB replays
    ``('0x' || substr(md5(...), 1, 15))::BIGINT`` verbatim). Round 18:
    fingerprints are BIGINT — one 8-byte column through the distinct
    shuffle (vs 32-char hex before r17, BINARY(16) in r17) and numeric
    winnow minima instead of string compares.
    """
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    fps = F.expr(
        f"transform(array({_gram_list(text_col, span_words)}), g -> "
        f"{_winnow_of('g', window)})[0]"
    )
    # explode_outer, NOT explode: InferFiltersFromGenerate would add a
    # size(fps) > 0 pre-filter whose pushdown INLINES the whole
    # gram+winnow expression a second time per row (and a text column
    # has >= 1 fingerprint anyway — the filter can never drop a row).
    # The isNotNull guard keeps semantics identical on the impossible
    # empty-array case and stays ABOVE the Generate (the generated
    # attribute cannot be pushed into the scan).
    # The distinct is the operator's only shuffle, on the 8-byte value.
    return (
        docs.select(F.col(id_col), F.explode_outer(fps).alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())
        .distinct()
    )


def _gram_list(text_col: str, k: int) -> str:
    """SQL fragment: 60-bit BIGINT hash of each overlapping k-word gram
    of ``text_col`` (|g| = max(n-k,0)+1) — md5 of the joined gram,
    first 15 hex digits as an integer. The lambda binds the split once
    (the word_shingles lesson: an inner reference would re-split per
    element).

    Round 18 (VERDICT r17 Next #2, guide §2.3): the BIGINT form makes
    the winnow minima 8-byte numeric compares and every downstream
    fingerprint shuffle/cache 8 bytes wide (vs 32-char hex pre-r17 /
    BINARY(16) in r17), measured 0.91x on the sf1 winnow pipeline.
    60 bits keeps birthday collisions harmless at 100 TB (~1e12 grams
    -> ~1e6 false shared-fingerprint pairs, each only widening the
    candidate superset the exact md5 pass then filters exactly).
    MEASURED AND REJECTED alternatives (sf1, interleaved, r18 —
    do not retry): (a) md5-once-per-word + two-lane polynomial
    aggregate-fold per position, 1.6x WORSE — Catalyst higher-order
    lambdas are interpreted, so 32 lambda invocations/position cost
    more than one md5 of the joined gram; (b) the same with the fold
    unrolled to one arithmetic expression, still 1.12x worse; (c)
    xxhash64 instead of md5 (the VERDICT r17 suggestion), grams-only
    0.95x / full-winnow 0.96x — NOT the 2x it assumed, because the
    per-position cost is HOF plumbing + slice/join, not the digest —
    and it has no DuckDB-portable replay. DuckDB mirrors this form
    verbatim: ('0x' || substr(md5(array_to_string(...)), 1, 15))::BIGINT."""
    return (
        f"transform(array(split(trim(coalesce({text_col}, '')), ' ')), t -> "
        f"transform(sequence(0, greatest(size(t) - {k}, 0)), "
        f"  p -> CAST(conv(substr(md5(array_join(slice(t, p + 1, {k}), ' ')),"
        f" 1, 15), 16, 10) AS BIGINT)))[0]"
    )


def _winnow_of(grams_ref: str, w: int) -> str:
    """SQL fragment: distinct winnowed fingerprints (array_min of each
    w-slice) of an already-computed gram array ``grams_ref``."""
    return (
        f"array_distinct(transform("
        f"sequence(0, greatest(size({grams_ref}) - {w}, 0)), "
        f"j -> array_min(slice({grams_ref}, j + 1, {w}))))"
    )


def _winnow_fp_rows(
    docs: DataFrame,
    span_words: int,
    window: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The exploded winnowed-fingerprint rows ``(id, _self_dup,
    fingerprint)`` of :func:`dedup_spans_candidates`' candidate
    discovery — shared by the in-op path and the on-disk index
    build/append.

    ONE expression computes grams → (winnowed fps, self-dup flag): the
    gram array binds to the lambda var g, so however often the
    optimizer inlines the expression (e.g. an inferred pre-Generate
    filter), grams are computed at most once per inlining — a COLUMN
    reference to the gram array would instead be substituted into the
    per-window slice lambda and recompute the grams per window
    (measured O(words²): 17 s vs 1 s at sf0.1). explode_outer +
    isNotNull: see :func:`winnow_fingerprints` (avoids the
    inferred-filter inlining)."""
    marked = docs.select(
        F.col(id_col),
        F.expr(
            f"transform(array({_gram_list(text_col, span_words)}), "
            f"g -> struct({_winnow_of('g', window)} AS fps, "
            f"size(g) != size(array_distinct(g)) AS self_dup))[0]"
        ).alias("_m"),
    ).select(
        F.col(id_col),
        F.col("_m.fps").alias("_fps"),
        F.col("_m.self_dup").alias("_self_dup"),
    )
    return (
        marked.select(
            id_col, "_self_dup", F.explode_outer("_fps").alias("fingerprint")
        )
        .filter(F.col("fingerprint").isNotNull())
    )


def build_winnow_index(
    docs: DataFrame,
    path: str,
    span_words: int = 16,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the winnowed fingerprint index ON DISK — the durable
    text-dedup candidate artifact :func:`dedup_spans_candidates`'
    docstring promises for 100 TB (VERDICT r10 "Next #1"; carried from
    r9 #3), the text analogue of :func:`similarity.build_ivf_index`'s
    serving layout and of the reference's recovery tracker
    (reference tracker/recoverytracker.go semantics: durable
    state so a re-run pays only the delta).

    Layout under ``path``: the ``(id, _self_dup, fingerprint)`` rows of
    :func:`_winnow_fp_rows` as plain parquet (the document id, a
    BOOLEAN and a BIGINT fingerprint per row — ~``2/(window+1)`` of
    the corpus' overlapping-gram volume), plus a
    ``_meta`` JSON sidecar recording ``(span_words, window, id_col)``,
    written LAST so its absence marks a broken or partial build
    (:func:`append_winnow_index` and the probe both refuse without
    it). A later :func:`dedup_spans_candidates` call with
    ``index_path=`` reads these rows instead of re-running the
    gram winnow over the whole corpus — the expensive per-row work
    a repeated 100 TB dedup job would otherwise pay on every run.

    Format v2 (round 18): ``fingerprint`` is the 60-bit BIGINT gram
    hash (see :func:`_gram_list`), recorded in ``_meta`` as
    ``fp = 'h60v1'``; probes refuse a v1 (md5-hex) index because its
    stored minima were selected under a different gram hash.
    """
    fp = _winnow_fp_rows(docs, span_words, window, text_col, id_col)
    fp.write.mode("overwrite").parquet(path)
    meta = docs.sparkSession.createDataFrame(
        [(int(span_words), int(window), id_col, _WINNOW_FP_KIND)],
        "span_words int, window int, id_col string, fp string",
    )
    meta.coalesce(1).write.mode("overwrite").json(path + "/_meta")


def append_winnow_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> None:
    """Append a NEW ingest batch's winnowed fingerprints to a
    :func:`build_winnow_index` artifact — fingerprints computed with
    the SAME ``(span_words, window)`` recorded in the index's ``_meta``
    sidecar (a different gram/window size would make the stored minima
    incomparable). Cost tracks the batch; the historical corpus is
    never re-winnowed.

    ``batch_id`` (e.g. foreachBatch's epoch id) makes replays
    idempotent AND crash-atomic via the staged commit protocol — see
    :func:`similarity.append_ivf_index`, whose contract this reuses.
    Even without it a replayed duplicate batch cannot corrupt results:
    duplicate ``(id, fingerprint)`` rows only widen the candidate
    superset the exact pass then filters exactly — only storage and
    probe fan-out inflate.
    """
    from firebolt_spark.operators.similarity import (
        _applied_batches, _commit_staged, _delete_dir,
        _recover_crashed_attempt,
    )

    spark = new_docs.sparkSession
    if batch_id is not None and int(batch_id) in _applied_batches(spark, path):
        _delete_dir(spark, f"{path}/_staging/b{int(batch_id)}")
        return
    meta = _read_winnow_meta(spark, path, id_col)
    fp = _winnow_fp_rows(
        new_docs, int(meta["span_words"]), int(meta["window"]),
        text_col, id_col,
    )
    if batch_id is None:
        fp.write.mode("append").parquet(path)
        return
    bid = int(batch_id)
    staging = f"{path}/_staging/b{bid}"
    _recover_crashed_attempt(spark, path, bid)
    fp.write.mode("overwrite").parquet(staging + "/data")
    _commit_staged(spark, staging, path, bid)


#: On-disk winnow index fingerprint format tag. ``h60v1`` = the 60-bit
#: BIGINT gram hash (round 18). Absent tag = the pre-r18 md5-hex
#: format, whose stored minima are incomparable with current probes.
_WINNOW_FP_KIND = "h60v1"


def _read_winnow_meta(spark, path: str, id_col: str) -> dict:
    """Read and validate a winnow index's ``_meta`` sidecar. Refuses a
    missing sidecar (written LAST at build time, so absence means a
    broken or partial index), an id-column mismatch, and a fingerprint
    format other than :data:`_WINNOW_FP_KIND` (the stored minima were
    selected under a different gram hash — rebuild the index); the
    caller checks span/window compatibility where it matters (probe)."""
    from firebolt_spark.operators.similarity import _read_index_meta

    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"winnow index at {path} has no _meta sidecar (written LAST "
            f"at build time, so its absence means a broken or partial "
            f"index); refusing to use it"
        )
    if meta["id_col"] != id_col:
        raise ValueError(
            f"winnow index at {path} was built with id_col="
            f"{meta['id_col']!r}, got {id_col!r}"
        )
    if meta.get("fp") != _WINNOW_FP_KIND:
        raise ValueError(
            f"winnow index at {path} stores fingerprint format "
            f"{meta.get('fp') or 'md5-hex (pre-r18)'!r}, this build "
            f"probes {_WINNOW_FP_KIND!r}; rebuild the index"
        )
    return meta


def dedup_spans_candidates(
    docs: DataFrame,
    span_words: int = 16,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_path: str | None = None,
) -> DataFrame:
    """The winnow→exact composition :func:`winnow_fingerprints`'
    docstring promises for 100 TB (VERDICT r8 "Next #3"): the exact
    offset-robust pass of :func:`dedup_spans_overlap`, restricted to
    CANDIDATE documents discovered by the winnowed fingerprint index.

    A document is a candidate iff (a) it shares a winnowed fingerprint
    with another document, or (b) it repeats a GRAM internally — the
    in-row self-duplication check runs on the pre-winnow gram array,
    so within-doc repeats are detected at full ``span_words``
    granularity (checking the winnowed minima instead would flag
    nearly every document: consecutive windows sharing their minimum
    is winnowing's normal compression, not duplication). By the
    winnowing guarantee, any CROSS-doc duplicated passage of at least
    ``window + span_words - 1`` words makes both documents candidates,
    so such duplicates are removed EXACTLY as the unrestricted pass
    would; shorter cross-doc duplicates (``span_words`` .. ``window +
    span_words - 2`` words) may be missed — that is the documented
    detection granularity bought for the cost reduction.
    Non-candidate documents pass through verbatim (``n_kept =
    n_words``), via the same left join + null ``_dup_pos`` rebuild.

    Output contract is :func:`dedup_spans_overlap`'s:
    ``(id, n_words int, n_kept int, text_dedup string)``.

    Scale shape — the point of the composition: the full corpus pays
    only the IN-ROW winnow (~``2/(window+1)`` of the overlapping-gram
    volume, one fingerprint shuffle + one candidate-id distinct —
    narrow strings/ids, never bodies); the ~``span_words``× digest
    volume of the exact pass is paid ONLY by candidate documents. On a
    corpus where duplication is sparse (the common 100 TB case after
    upstream exact dedup) the exact pass touches a small fraction of
    documents, and the final body join is against a dup_pos table
    sized by actual duplication.

    ``index_path`` points candidate discovery at a
    :func:`build_winnow_index` artifact instead of re-winnowing the
    corpus in-session — the repeated-run / ingest-loop shape (build
    once, :func:`append_winnow_index` per batch, dedup pays only the
    index SCAN). The index's ``(span_words, window, id_col)`` must
    match the call's (validated against the ``_meta`` sidecar), and the
    index must COVER ``docs``: a doc absent from the index can never
    become a candidate, so its duplicates would be missed. Extra index
    docs beyond ``docs`` are safe — they can only widen the candidate
    superset, and the exact pass (scoped to ``docs``) returns the
    identical result either way.
    """
    if index_path is not None:
        _read_winnow_meta_probe(
            docs.sparkSession, index_path, span_words, window, id_col
        )
        # NOT persisted, unlike the in-op branch: these rows come off a
        # columnar parquet scan (the cheap path — avoiding the winnow
        # recompute is the whole point of the artifact), and at 100 TB
        # pinning the full index in executor memory is exactly what a
        # serving layout must not require. Three consumers → three
        # column-pruned scans. Fingerprints are BIGINT on disk since
        # the round-18 rolling-hash format (fp v2, validated above).
        fp_rows = docs.sparkSession.read.parquet(index_path).select(
            id_col, "_self_dup", "fingerprint"
        )
        handles = []
    else:
        # persist: the gram winnow is the expensive per-row work and
        # fp_rows feeds THREE consumers (the shared-fingerprint
        # aggregate, the shared-fingerprint join probe, and the self-dup
        # id branch) — uncached, Catalyst re-runs the gram scan for
        # each. The cached rows are narrow (id, bool, BIGINT
        # fingerprint) at ~2/(window+1) of the gram volume — exactly
        # what build_winnow_index materializes on disk.
        fp_rows = _winnow_fp_rows(
            docs, span_words, window, text_col, id_col
        ).persist()
        handles = [fp_rows]
    shared = (
        fp_rows.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("fingerprint")
    )
    # persist: the candidate-id set (narrow — ids only) feeds both the
    # winners side and the losers side of the exact pass's meta
    # self-join; without it the whole winnow subtree (fingerprint
    # shuffle + union + distinct) executes twice
    cand_ids = (
        fp_rows.join(shared, "fingerprint")
        .select(id_col)
        .union(fp_rows.filter(F.col("_self_dup")).select(id_col))
        .distinct()
        .persist()
    )
    cand_docs = docs.join(cand_ids, id_col, "left_semi")
    from firebolt_spark.functions import track_persisted

    dup_pos, meta = _overlap_dup_pos(cand_docs, span_words, text_col, id_col)
    return track_persisted(
        _rebuild_overlap(docs, dup_pos, span_words, text_col, id_col),
        *handles,
        cand_ids,
        meta,
    )


def _read_winnow_meta_probe(
    spark, path: str, span_words: int, window: int, id_col: str
) -> None:
    """Probe-side sidecar validation: a span/window mismatch between
    build and probe would silently change detection granularity (the
    stored minima were selected under different parameters), so it
    refuses — the winnow analogue of the LSH planes-mismatch guard
    (ADVICE r8)."""
    meta = _read_winnow_meta(spark, path, id_col)
    if int(meta["span_words"]) != span_words or int(meta["window"]) != window:
        raise ValueError(
            f"winnow index at {path} was built with span_words="
            f"{meta['span_words']}, window={meta['window']}; the probe "
            f"asked for span_words={span_words}, window={window} — "
            f"rebuild the index or match the build parameters"
        )
