"""Measurement plumbing shared by the workloads: the Spark session the
benchmark pins, probes that read counts from outside the program
(Spark UI REST, /proc), the in-memory span recorder, and the null
Elasticsearch client injected through ``client_factory``.

Importing this module starts nothing; the program under test is
imported lazily so the benchmark can report a missing one cleanly.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import time
import urllib.request
from dataclasses import dataclass, field

from pyspark.accumulators import AccumulatorParam

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4


# ---------------------------------------------------------------- session

def start_session(work_dir: str):
    """The pinned session: local[4] with 4 shuffle partitions (the
    engine's 32-thread default oversubscribes a 4-core host), scratch
    and warehouse inside the work dir, UI bound to loopback so the
    REST probes stay local."""
    from firebolt_spark.session import get_spark

    spark = get_spark(
        "firebolt-perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir} -XX:-UsePerfData -XX:+UseParallelGC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class SparkRest:
    """Counts read from the Spark UI REST API of the live application —
    the program is never asked for them."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _settled(self, read) -> int:
        # the UI listener trails the scheduler; read until two reads agree
        prev = read()
        for _ in range(20):
            time.sleep(0.05)
            cur = read()
            if cur == prev:
                return cur
            prev = cur
        return prev

    def shuffle_write_bytes(self) -> int:
        return self._settled(
            lambda: sum(e.get("totalShuffleWrite", 0) or 0 for e in self._get("/allexecutors"))
        )

    def jobs_started(self) -> int:
        return self._settled(lambda: len(self._get("/jobs")))


def _proc_table() -> dict[int, tuple[str, int, str, str]]:
    """pid -> (comm, ppid, state, start time) of every live process, from /proc."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        table[int(pid)] = (stat[stat.index("(") + 1:stat.rindex(")")], int(rest[1]), rest[0], rest[19])
    return table


def peak_rss_mb() -> float:
    """VmHWM of this driver process plus its JVM child, from /proc."""
    me = os.getpid()
    total_kb = _vm_hwm_kb(me)
    for pid, (comm, ppid, _, _) in _proc_table().items():
        if ppid == me and comm == "java":
            total_kb += _vm_hwm_kb(pid)
    return total_kb / 1024.0


def _descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live descendant of ``root``."""
    table = _proc_table()
    out, frontier = {}, {root}
    while frontier:
        frontier = {pid for pid, (_, ppid, _, _) in table.items() if ppid in frontier} - out.keys()
        out.update((pid, table[pid][3]) for pid in frontier)
    return out


def _still_running(procs: dict[int, str]) -> dict[int, str]:
    table = _proc_table()
    return {pid: start for pid, start in procs.items()
            if pid in table and table[pid][3] == start and table[pid][2] != "Z"}


def stop_jvm(timeout: float = 30.0) -> None:
    """End the JVM behind the py4j gateway and every process it started
    (the Python worker daemon and its workers), and wait until each has
    ended; whatever outlives ``timeout`` is killed. Without this the JVM
    exits only after this process does, once it sees its stdin close."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = _descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:  # the JVM may be gone already
        pass
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while (left := _still_running(started)) and time.monotonic() < deadline + timeout:
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ----------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """Spans kept in memory and written once at exit. ``enabled=False``
    makes every span a no-op so untraced timings pay nothing."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self, first: int = 0) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's,
        over the spans recorded from index ``first`` on."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans[first:], first):
            out.setdefault(s.name, []).append(s.end - s.start - child_time[i])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.index = None
        if t.enabled:
            self.index = len(t.spans)
            t.spans.append(Span(self.name, time.perf_counter(), 0.0, t._stack[-1] if t._stack else None))
            t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if self.index is not None:
            t.spans[self.index].end = time.perf_counter()
            t._stack.pop()
        return False


# ------------------------------------------------ null Elasticsearch client

class DictParam(AccumulatorParam):
    """Accumulates {key: count} dicts by summing per key."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


def counter_accumulators(sc):
    """Accumulators the null client reports into: bulk calls, docs,
    sum of numeric doc ids, and docs per input file (key: doc id //
    per_file) for stream latency."""
    return {
        "calls": sc.accumulator(0),
        "docs": sc.accumulator(0),
        "id_sum": sc.accumulator(0),
        "per_file": sc.accumulator({}, DictParam()),
    }


class NullBulkClient:
    """Acknowledges every doc without I/O and counts what it was sent.
    Built per partition by the sink through ``client_factory`` (a
    picklable ``functools.partial`` of this class)."""

    def __init__(self, accs: dict, per_file: int | None):
        self.accs = accs
        self.per_file = per_file

    def bulk(self, actions: list[dict]) -> list:
        self.accs["calls"].add(1)
        self.accs["docs"].add(len(actions))
        ids = [int(a["doc_id"]) for a in actions]
        self.accs["id_sum"].add(sum(ids))
        if self.per_file:
            files: dict[int, int] = {}
            for i in ids:
                files[i // self.per_file] = files.get(i // self.per_file, 0) + 1
            self.accs["per_file"].add(files)
        return []


def find_node(pipeline, node_id: str):
    """The NodeRuntime with ``node_id`` (error handlers included)."""
    stack = list(pipeline.roots)
    while stack:
        rt = stack.pop()
        if rt.id == node_id:
            return rt
        if rt.error_handler is not None and rt.error_handler.id == node_id:
            return rt.error_handler
        stack.extend(rt.children)
    raise KeyError(node_id)


# -------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """The q-quantile (0<q<1) of xs, inclusive method; 0.0 when empty."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    n = 100
    return statistics.quantiles(xs, n=n, method="inclusive")[round(q * n) - 1]


def weighted_quantile(pairs: list[tuple[float, int]], q: float) -> float:
    """q-quantile of values weighted by counts: the smallest value whose
    cumulative weight reaches q of the total."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total == 0:
        return 0.0
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]
