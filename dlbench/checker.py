"""Correctness grading: every generated record, on every channel.

A record passes when it appears exactly once, on the channel the generator
intended, and carries that channel's contract: an output value of length n
in ``[a-z]``; the raw bytes on the deserialization dead letter; the
original int32be value on the process dead letter; an empty value on the
production dead letter; the exact ``error.message`` text on every dead
letter; and the creation-stamp header preserved everywhere.  Dead-lettered
records are correct routing, not failures.

The expected header texts are written out here, not imported from the
engine, so a change to what the engine emits is caught as a failure.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from loadgen import (
    DESER,
    KEY_LEN,
    MAX_REQUEST_SIZE,
    OUTPUT,
    PROCESS,
    PROD,
    RECORD_OVERHEAD,
    STAMP_HEADER,
)

ERROR_HEADER = "error.message"


@dataclass
class Grade:
    """Outcome of one drain, paced run or ingest pass."""

    attempted: int = 0
    failed: int = 0
    reasons: Counter = field(default_factory=Counter)
    #: per generated record: result time minus clock start (inf = never delivered)
    latency_ns: np.ndarray = field(default_factory=lambda: np.empty(0))

    def add(self, other: "Grade") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.reasons.update(other.reasons)
        self.latency_ns = np.concatenate([self.latency_ns, other.latency_ns])


def error_text(channel: int, n: int, value: bytes) -> str | None:
    """The ``error.message`` header a record of ``channel`` must carry."""
    if channel == DESER:
        return f"Size of data received by int32 deserializer is {len(value)}, expected 4"
    if channel == PROCESS:
        return f"NegativeLengthError: {n}"
    if channel == PROD:
        size = n + KEY_LEN + RECORD_OVERHEAD
        return (
            f"The message is {size} bytes when serialized which is larger than "
            f"{MAX_REQUEST_SIZE}, which is the value of the max.request.size configuration."
        )
    return None


def _read(path: str) -> pa.Table | None:
    """A Spark-written parquet directory; None when the write left no data file."""
    if not os.path.isdir(path) or not any(
        f.endswith(".parquet") and not f.startswith((".", "_")) for f in os.listdir(path)
    ):
        return None
    return pq.read_table(path)


def grade_channels(
    out_dir: str,
    intent: pa.Table,
    topics: dict[int, str],
    commits: dict[tuple[str, str], int],
    clock_start_ns: int,
) -> Grade:
    """Grade the sink tree ``out_dir/<batch>/<topic>`` against ``intent``.

    ``commits`` maps (batch, topic) to the wall time its sink write
    completed; a record's latency runs from the later of its creation
    stamp and ``clock_start_ns`` to that commit."""
    keys = intent["key"].to_pylist()
    index = {k: i for i, k in enumerate(keys)}
    channel = intent["channel"].to_numpy()
    n = intent["n"].to_numpy()
    in_values = intent["value"].to_pylist()
    stamp = intent["stamp"].to_numpy()
    seen = np.zeros(len(keys), np.int64)
    bad = np.zeros(len(keys), bool)
    done_ns = np.full(len(keys), np.inf)
    reasons: Counter = Counter()
    channel_of = {t: c for c, t in topics.items()}

    for (batch, topic), commit_ns in commits.items():
        table = _read(os.path.join(out_dir, batch, topic))
        if table is None:
            continue
        ch = channel_of[topic]
        rows_keys = table["key"].to_pylist()
        rows_headers = table["headers"].to_pylist()
        if ch == OUTPUT:
            # values can be MBs per batch: check them vectorized, never as bytes objects
            lengths = pc.binary_length(table["value"]).to_numpy(zero_copy_only=False)
            lowercase = pc.match_substring_regex(table["value"], "^[a-z]*$")
            lowercase = lowercase.to_numpy(zero_copy_only=False)
        else:
            values = table["value"].to_pylist()
        for r, key in enumerate(rows_keys):
            i = index.get(key)
            if i is None:
                reasons["unknown key"] += 1
                continue
            seen[i] += 1
            done_ns[i] = commit_ns
            want = int(channel[i])
            if want != ch:
                bad[i] = True
                reasons[f"misrouted {topics[want]} -> {topic}"] += 1
                continue
            stamp_header = {"key": STAMP_HEADER, "value": int(stamp[i]).to_bytes(8, "big")}
            text = error_text(want, int(n[i]), in_values[i])
            want_headers = [stamp_header]
            if text is not None:
                want_headers.append({"key": ERROR_HEADER, "value": text.encode()})
            if rows_headers[r] != want_headers:
                bad[i] = True
                reasons[f"{topic} headers"] += 1
            if ch == OUTPUT:
                ok = lengths[r] == n[i] and lowercase[r]
            elif ch == PROD:
                ok = values[r] == b""
            else:  # both DLTs carry the input value: raw bytes / original int32be
                ok = values[r] == in_values[i]
            if not ok:
                bad[i] = True
                reasons[f"{topic} value"] += 1

    missing = seen == 0
    reasons["missing"] += int(missing.sum())
    reasons["duplicated"] += int((seen > 1).sum())
    bad |= missing | (seen > 1)
    start = np.maximum(stamp, clock_start_ns).astype(np.float64)
    return Grade(
        attempted=len(keys),
        failed=int(bad.sum()) + reasons["unknown key"],
        reasons=+reasons,
        latency_ns=done_ns - start,
    )


def grade_corpus(
    corpus_dir: str,
    n_docs: int,
    planted: set[int],
    doc_batch: np.ndarray,
    batch_done_ns: list[int],
    clock_start_ns: int,
) -> Grade:
    """Grade one ingest pass: every source doc kept exactly once, every
    planted near-dup rejected (its source is always fed first or in the
    same batch).  A doc's latency runs from pass start to the end of the
    ``process_batch`` call that decided it."""
    table = _read(corpus_dir)
    kept = table["doc_id"].to_numpy() if table is not None else np.empty(0, np.int64)
    known = (kept >= 0) & (kept < n_docs)
    counts = np.bincount(kept[known], minlength=n_docs)
    is_planted = np.zeros(n_docs, bool)
    is_planted[list(planted)] = True
    reasons: Counter = Counter()
    reasons["unknown doc"] += int((~known).sum())
    reasons["near-dup kept alongside its source"] += int((is_planted & (counts > 0)).sum())
    reasons["source rejected"] += int((~is_planted & (counts == 0)).sum())
    reasons["duplicated"] += int((counts > 1).sum())
    bad = (is_planted & (counts > 0)) | (~is_planted & (counts != 1))
    done = np.asarray(batch_done_ns, np.float64)[doc_batch]
    return Grade(
        attempted=n_docs,
        failed=int(bad.sum()) + reasons["unknown doc"],
        reasons=+reasons,
        latency_ns=done - clock_start_ns,
    )
