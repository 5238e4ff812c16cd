"""Elasticsearch test doubles shared by the sink and streaming tests."""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from firebolt_spark.sinks.elasticsearch import (
    MAPPER_PARSING_EXCEPTION,
    BulkClient,
    BulkIndexError,
    DocFailure,
)


@dataclass
class FileBackedBulkClient(BulkClient):
    """Bulk-client fake observable across process boundaries: Spark runs
    partitions in separate Python workers, so an in-memory fake's state
    never reaches the driver. This one records indexed docs and bulk
    calls as files under ``spool_dir``."""

    spool_dir: str
    fail_ids: set = field(default_factory=set)
    fail_type: str = MAPPER_PARSING_EXCEPTION
    transient_failures: int = 0

    def bulk(self, actions: list[dict]) -> list[DocFailure]:
        calls_dir = os.path.join(self.spool_dir, "calls")
        indexed_dir = os.path.join(self.spool_dir, "indexed")
        os.makedirs(calls_dir, exist_ok=True)
        os.makedirs(indexed_dir, exist_ok=True)
        call_no = len(os.listdir(calls_dir)) + 1
        with open(os.path.join(calls_dir, uuid.uuid4().hex), "w") as f:
            f.write(str(len(actions)))
        if call_no <= self.transient_failures:
            raise BulkIndexError("simulated transport failure")
        failures = []
        for a in actions:
            if a["doc_id"] in self.fail_ids:
                failures.append(DocFailure(a["doc_id"], self.fail_type))
            else:
                open(os.path.join(indexed_dir, a["doc_id"]), "w").close()
        return failures

    def indexed_ids(self) -> list[str]:
        d = os.path.join(self.spool_dir, "indexed")
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    def call_count(self) -> int:
        d = os.path.join(self.spool_dir, "calls")
        return len(os.listdir(d)) if os.path.isdir(d) else 0
