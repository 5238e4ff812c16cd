"""Seeded input generators for the pipeline benchmark.

Everything the program under test reads is made here from ``--seed``
and written as parquet; the expected outputs (class counts, planted
duplicates) are derived from the same generated data, never from the
program. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import math
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- logging

# The reference generator's mix: parseable @cee syslog, lines the
# filter node drops, lines the syslog parser rejects.
FILTER_FRAC = 0.07
ERROR_FRAC = 0.03

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("payload", pa.string()),
        ("created", pa.timestamp("us", tz="UTC")),
    ]
)
EVENT_DDL = "event_id BIGINT, payload STRING, created TIMESTAMP"

_HOSTS = [f"web-{i:02d}.example.org" for i in range(16)]
_PROGRAMS = ["nginx", "sshd", "cron", "kernel", "app", "dockerd"]
_LEVELS = ["info", "warn", "debug", "error"]


@dataclass
class EventCounts:
    """Per-class counts of a generated event set."""

    parsed: int = 0
    filtered: int = 0
    errors: int = 0
    id_sum: int = 0  # sum of event_id over the parseable events

    @property
    def total(self) -> int:
        return self.parsed + self.filtered + self.errors

    def add(self, other: "EventCounts") -> None:
        self.parsed += other.parsed
        self.filtered += other.filtered
        self.errors += other.errors
        self.id_sum += other.id_sum


def make_events(rng: random.Random, first_id: int, n: int):
    """n syslog-style events with ids first_id..first_id+n-1.

    Returns (event_ids, payloads, counts)."""
    ids = list(range(first_id, first_id + n))
    payloads = []
    counts = EventCounts()
    for eid in ids:
        r = rng.random()
        if r < FILTER_FRAC:
            payloads.append(f"filter me {eid}")
            counts.filtered += 1
        elif r < FILTER_FRAC + ERROR_FRAC:
            payloads.append(f"error time {eid}")
            counts.errors += 1
        else:
            pid = rng.randrange(1, 400)
            payloads.append(
                f"<{rng.randrange(8, 192)}>2026-10-16T12:{rng.randrange(60):02d}:"
                f"{rng.randrange(60):02d}Z {rng.choice(_HOSTS)} "
                f"{rng.choice(_PROGRAMS)}[{pid}]: @cee:"
                f'{{"level":"{rng.choice(_LEVELS)}","req":{eid},'
                f'"latency_ms":{rng.randrange(1, 5000)},"msg":"request served"}}'
            )
            counts.parsed += 1
            counts.id_sum += eid
    return ids, payloads, counts


def write_events(path: str, ids, payloads, created_us: list[int] | int) -> None:
    """One parquet file of events; ``created_us`` per event or shared."""
    if isinstance(created_us, int):
        created_us = [created_us] * len(ids)
    table = pa.Table.from_arrays(
        [
            pa.array(ids, pa.int64()),
            pa.array(payloads, pa.string()),
            pa.array(created_us, pa.timestamp("us", tz="UTC")),
        ],
        schema=EVENT_SCHEMA,
    )
    pq.write_table(table, path)


def write_event_partitions(
    out_dir: str, seed: int, n_events: int, partitions: int = 4, first_id: int = 0
) -> EventCounts:
    """Batch input: n_events in ``partitions`` parquet files (the Kafka
    partitions of the reference's logging example), ids from
    ``first_id``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = EventCounts()
    per = -(-n_events // partitions)
    base_us = 1_790_000_000_000_000
    for p in range(partitions):
        first = p * per
        n = min(per, n_events - first)
        ids, payloads, c = make_events(rng, first_id + first, n)
        created = [base_us + i - first_id for i in ids]
        write_events(os.path.join(out_dir, f"part-{p}.parquet"), ids, payloads, created)
        counts.add(c)
    return counts


@dataclass
class StreamFile:
    seq: int
    created: float  # wall-clock seconds stamped on every event of the file
    counts: EventCounts


class OpenLoopWriter:
    """Writes one parquet file of ``per_file`` events every ``interval``
    seconds into ``out_dir``, on a fixed schedule that does not slow
    when the consumer slows. Each file is written under a hidden name
    and renamed in, so the stream source sees it whole; every event's
    ``created`` is the wall-clock time of the write. Ids and file
    numbers continue across calls to ``run``."""

    def __init__(self, out_dir: str, seed: int, per_file: int, interval: float,
                 align: float = 0.0, offset: float = 0.0):
        self.out_dir = out_dir
        # each run starts on the next wall-clock multiple of ``align``
        # plus ``offset`` (a fixed phase against a trigger), so runs of
        # whole multiples of ``align`` follow one another with no gap
        self.align = align
        self.offset = offset
        self.rng = random.Random(seed)
        self.per_file = per_file
        self.interval = interval
        self.files: list[StreamFile] = []
        self.late_max_s = 0.0
        self.t0 = 0.0  # start of the first run
        os.makedirs(out_dir, exist_ok=True)

    def run(self, duration: float) -> None:
        """Write for ``duration`` seconds; returns once the last file is
        in."""
        t0 = time.time()
        if self.align:
            t0 = math.ceil((t0 - self.offset) / self.align) * self.align + self.offset
        self.t0 = self.t0 or t0
        for k in range(math.ceil(duration / self.interval - 1e-9)):
            due = t0 + k * self.interval
            time.sleep(max(0.0, due - time.time()))
            self.late_max_s = max(self.late_max_s, time.time() - due)
            seq = len(self.files)
            ids, payloads, c = make_events(self.rng, seq * self.per_file, self.per_file)
            created = time.time()
            tmp = os.path.join(self.out_dir, f".f{seq:06d}.tmp")
            write_events(tmp, ids, payloads, int(created * 1_000_000))
            os.rename(tmp, os.path.join(self.out_dir, f"f{seq:06d}.parquet"))
            self.files.append(StreamFile(seq, created, c))

    def totals(self) -> EventCounts:
        out = EventCounts()
        for f in self.files:
            out.add(f.counts)
        return out


# ----------------------------------------------------------------- corpus

STOPWORDS = ["the", "of", "and", "a"]
JUNK_FRAC = 0.10
EXACT_FRAC = 0.15
NEAR_FRAC = 0.10
NEAR_SUB_RATE = 1 / 30  # about one word in thirty substituted


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    kept_ids: set[int]                  # docs that pass the quality gate
    exact_dups: int                     # kept docs minus distinct kept texts
    dup_lines: int                      # dedupable lines minus distinct ones
    planted_near: set[tuple[int, int]]  # (min id, max id) base/near pairs
    text_by_id: dict[int, str] = field(default_factory=dict)


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words = list(STOPWORDS)
    seen = set(words)
    letters = "abcdefghijklmnopqrstuvwxyz"
    while len(words) < size:
        w = "".join(rng.choice(letters) for _ in range(rng.randrange(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _cum_zipf(size: int, s: float = 1.1) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, size + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return out


def _lines(words: list[str], rng: random.Random) -> str:
    out, i = [], 0
    while i < len(words):
        step = rng.randrange(8, 15)
        out.append(" ".join(words[i:i + step]))
        i += step
    return "\n".join(out)


def make_corpus(seed: int, n_docs: int, vocab_size: int = 5000) -> Corpus:
    """Zipf-vocabulary documents with planted junk, exact duplicates and
    near duplicates; doc ids are shuffled so copies are scattered."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, vocab_size)
    cum = _cum_zipf(vocab_size)
    n_junk = int(n_docs * JUNK_FRAC)
    n_exact = int(n_docs * EXACT_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_orig = n_docs - n_junk - n_exact - n_near

    originals: list[list[str]] = []
    for _ in range(n_orig):
        n_words = rng.randrange(60, 200)
        originals.append(rng.choices(vocab, cum_weights=cum, k=n_words))
    docs: list[tuple[str, int | None, bool]] = []  # (text, base index, is_near)
    for i, words in enumerate(originals):
        docs.append((_lines(words, random.Random(seed * 7919 + i)), i, False))
    bases = [d[0] for d in docs]
    for _ in range(n_exact):
        b = rng.randrange(n_orig)
        docs.append((bases[b], b, False))
    for _ in range(n_near):
        b = rng.randrange(n_orig)
        words = list(originals[b])
        n_sub = max(1, round(len(words) * NEAR_SUB_RATE))
        for pos in rng.sample(range(len(words)), n_sub):
            w = words[pos]
            while w == words[pos]:
                w = vocab[rng.randrange(len(vocab))]
            words[pos] = w
        docs.append((_lines(words, random.Random(seed * 7919 + b)), b, True))
    for _ in range(n_junk):
        docs.append((" ".join(str(rng.randrange(10, 10**6)) for _ in range(20)), None, False))

    ids = list(range(n_docs))
    rng.shuffle(ids)
    base_id = {}  # original index -> doc id
    for doc_id, (_, b, is_near) in zip(ids, docs):
        if b is not None and not is_near and b not in base_id:
            base_id[b] = doc_id
    planted_near = set()
    kept: set[int] = set()
    kept_texts: list[str] = []
    for doc_id, (text, b, is_near) in zip(ids, docs):
        if b is not None:
            kept.add(doc_id)
            kept_texts.append(text)
        if is_near:
            a = base_id[b]
            planted_near.add((min(a, doc_id), max(a, doc_id)))
    lines = [ln for t in kept_texts for ln in t.split("\n") if ln.strip()]
    texts = [d[0] for d in docs]
    return Corpus(
        doc_ids=ids,
        texts=texts,
        kept_ids=kept,
        exact_dups=len(kept_texts) - len(set(kept_texts)),
        dup_lines=len(lines) - len(set(lines)),
        planted_near=planted_near,
        text_by_id=dict(zip(ids, texts)),
    )


def write_corpus(path: str, corpus: Corpus) -> None:
    table = pa.Table.from_arrays(
        [pa.array(corpus.doc_ids, pa.int64()), pa.array(corpus.texts, pa.string())],
        names=["doc_id", "text"],
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def shingles(text: str, n: int = 3) -> set[str]:
    """Python replica of ``dedup.word_shingles``: distinct word n-grams
    over ``split(text, ' ')``, one whole-text shingle when shorter."""
    t = text.split(" ")
    last = max(len(t) - (n - 1), 1)
    return {" ".join(t[i:i + n]) for i in range(last)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)
