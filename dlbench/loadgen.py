"""Seeded load generator: Kafka-source-shaped records and document corpora.

Runs in the benchmark process with numpy and pyarrow only.  Nothing here
goes through Spark; the engine sees only the parquet files written.  Every
record carries its creation stamp in the ``bench.created`` header, and the
generator returns an intent table saying which channel each record must
reach, which ``checker`` grades the sinks against.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAMP_HEADER = "bench.created"
#: keys are ``%010d`` of the offset, so every record's serialized size is
#: value + 10 + RECORD_OVERHEAD
KEY_LEN = 10
#: the engine's defaults (``config.DEFAULT_MAX_REQUEST_SIZE`` and
#: ``config.RECORD_OVERHEAD``), restated: the checker grades against the
#: published contract, not against whatever the engine currently computes
MAX_REQUEST_SIZE = 1_048_576
RECORD_OVERHEAD = 88

# intended channels
OUTPUT, DESER, PROCESS, PROD = 0, 1, 2, 3

HEADERS_TYPE = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
SOURCE_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("headers", HEADERS_TYPE),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
    ]
)
SOURCE_DDL = (
    "key binary, value binary, headers array<struct<key:string,value:binary>>, "
    "topic string, partition int, offset bigint"
)

#: lengths of undecodable values: anything but the 4 bytes an int32 needs
_DESER_LENGTHS = np.array([0, 1, 2, 3, 5, 6, 7, 8, 9, 10, 11, 12])


@dataclass(frozen=True)
class Mix:
    """Share of each dead-letter kind; the rest is happy path with ``n``
    uniform in ``[0, max_n]``."""

    deser: float
    process: float
    prod: float
    max_n: int


CLEAN = Mix(deser=0.005, process=0.005, prod=0.0, max_n=4095)
POISON = Mix(deser=0.30, process=0.30, prod=0.10, max_n=64)
PACED = Mix(deser=0.02, process=0.01, prod=0.01, max_n=255)


def make_records(
    rng: np.random.Generator, mix: Mix, first_offset: int, count: int, stamp_ns: int
) -> tuple[pa.Table, pa.Table]:
    """``count`` records from ``first_offset`` on, all stamped ``stamp_ns``.

    Returns the source table (what the engine reads) and the intent table
    (key, channel, n, value, stamp: what the checker expects)."""
    u = rng.random(count)
    channel = np.full(count, OUTPUT, np.int8)
    channel[u < mix.deser + mix.process + mix.prod] = PROD
    channel[u < mix.deser + mix.process] = PROCESS
    channel[u < mix.deser] = DESER
    n = rng.integers(0, mix.max_n + 1, count)
    n = np.where(channel == PROCESS, -rng.integers(1, 2**31, count), n)
    n = np.where(channel == PROD, rng.integers(MAX_REQUEST_SIZE, 2**31, count), n)
    deser_len = rng.choice(_DESER_LENGTHS, count)

    packed = n.astype(">i4").tobytes()
    values = [
        rng.bytes(int(deser_len[i])) if channel[i] == DESER else packed[4 * i : 4 * i + 4]
        for i in range(count)
    ]
    offsets = np.arange(first_offset, first_offset + count, dtype=np.int64)
    keys = [b"%010d" % o for o in offsets]
    stamp = [{"key": STAMP_HEADER, "value": stamp_ns.to_bytes(8, "big")}]
    source = pa.table(
        {
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
            "headers": pa.array([stamp] * count, HEADERS_TYPE),
            "topic": pa.array(["input"] * count, pa.string()),
            "partition": pa.array(np.zeros(count, np.int32)),
            "offset": pa.array(offsets),
        },
        schema=SOURCE_SCHEMA,
    )
    intent = pa.table(
        {
            "key": source["key"],
            "channel": pa.array(channel),
            "n": pa.array(n.astype(np.int64)),
            "value": source["value"],
            "stamp": pa.array(np.full(count, stamp_ns, np.int64)),
        }
    )
    return source, intent


def write_atomic(table: pa.Table, path: str) -> None:
    """Write a parquet file under a hidden name, then rename it into place,
    so a file-source listing never sees a half-written file."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def stage_backlog(
    directory: str, seed: int, mix: Mix, files: int, rows_per_file: int
) -> pa.Table:
    """Write a drain backlog of ``files × rows_per_file`` records; returns
    the intent table."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    stamp_ns = time.time_ns()
    intents = []
    for f in range(files):
        source, intent = make_records(rng, mix, f * rows_per_file, rows_per_file, stamp_ns)
        write_atomic(source, os.path.join(directory, f"part-{f:05d}.parquet"))
        intents.append(intent)
    return pa.concat_tables(intents)


class PacedWriter(threading.Thread):
    """Open-loop generator: one file of ``rows_per_file`` records every
    ``interval_s`` for ``duration_s``, on a schedule that never waits for
    the engine.  Each record is stamped with the time its file was DUE, so
    a stall in the generator or the engine counts against latency.
    ``late_ns`` records, per file, how far past its due time the file
    landed."""

    def __init__(
        self,
        directory: str,
        seed: int,
        mix: Mix,
        rows_per_file: int,
        interval_s: float,
        duration_s: float,
    ) -> None:
        super().__init__(name="paced-loadgen", daemon=True)
        os.makedirs(directory, exist_ok=True)
        self.directory = directory
        self.rng = np.random.default_rng(seed)
        self.mix = mix
        self.rows_per_file = rows_per_file
        self.interval_ns = int(interval_s * 1e9)
        self.files = max(1, round(duration_s / interval_s))
        self.next_offset = 0
        self.start_ns = 0
        self.intents: list[pa.Table] = []
        self.late_ns: list[int] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.start_ns = time.time_ns()
            for k in range(self.files):
                due = self.start_ns + k * self.interval_ns
                wait = (due - time.time_ns()) / 1e9
                if wait > 0:
                    time.sleep(wait)
                source, intent = make_records(
                    self.rng, self.mix, self.next_offset, self.rows_per_file, due
                )
                name = f"part-{self.next_offset:012d}.parquet"
                write_atomic(source, os.path.join(self.directory, name))
                self.late_ns.append(time.time_ns() - due)
                self.intents.append(intent)
                self.next_offset += self.rows_per_file
        except BaseException as exc:  # noqa: BLE001 — handed to the joining thread
            self.error = exc

    def finish(self, timeout_s: float) -> pa.Table:
        """Join the writer and return every intent it generated."""
        self.join(timeout_s)
        if self.is_alive():
            raise RuntimeError("paced load generator did not finish")
        if self.error is not None:
            raise self.error
        return pa.concat_tables(self.intents)


def stage_documents(
    directory: str, seed: int, n_docs: int, batches: int, planted_every: int = 5
) -> tuple[list[str], np.ndarray]:
    """A ``sources.synth.synth_documents``-shaped corpus split into
    ``batches`` parquet files.  Returns the files in feed order and each
    doc's batch index.

    Same recipe as the engine's Spark generator: words from a 64-word
    vocabulary, every ``planted_every``-th doc is the previous doc's text
    plus `` wx``.  Texts are 12-120 words rather than 8-120 so a planted
    near-dup's shingle Jaccard is at least 10/11, which keeps the 8×2
    minhash banding's miss chance below 1e-6 per pair.  Docs land in
    random batches, except that a planted doc never lands before its
    source: the engine keeps whichever copy it sees first."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    batch = np.empty(n_docs, np.int64)
    for i in range(n_docs):
        b = int(rng.integers(0, batches))
        if i > 0 and i % planted_every == 0:
            texts.append(texts[i - 1] + " wx")
            batch[i] = max(b, batch[i - 1])
        else:
            words = rng.integers(0, 64, int(rng.integers(12, 121)))
            texts.append(" ".join(f"w{w}" for w in words))
            batch[i] = b
    ids = np.arange(n_docs, dtype=np.int64)
    paths = []
    for b in range(batches):
        sel = np.flatnonzero(batch == b)
        table = pa.table(
            {"doc_id": pa.array(ids[sel]), "text": pa.array([texts[i] for i in sel])}
        )
        path = os.path.join(directory, f"batch-{b:03d}.parquet")
        write_atomic(table, path)
        paths.append(path)
    return paths, batch


def planted_ids(n_docs: int, planted_every: int = 5) -> set[int]:
    return {i for i in range(planted_every, n_docs, planted_every)}
