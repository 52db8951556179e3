"""Distributed Bloom filter ([EXT]): a compact, mergeable membership
sketch for incremental dedup gating — "has this fingerprint been seen in
any earlier batch?" answered WITHOUT shuffling or re-scanning the corpus.

The reference app has no counterpart (stateless per-record topology); this
is part of the driver-mandated [EXT] training-data surface.  Public
method: Bloom (1970) — k hash positions per key over an m-bit array; a
key is *maybe present* iff all k bits are set (no false negatives, a
tunable false-positive rate ~= (set_fraction)^k).

Spark-first layout
------------------
The bit array is a DataFrame of 63-bit words ``(word_idx BIGINT,
word BIGINT)`` — bits 0..62 per word, so ``1 << bit`` never touches the
sign bit (DuckDB's checked arithmetic errors on ``1::BIGINT << 63``, and
the oracle must replay the build bit-for-bit).

* **build** = explode each key into its k positions → map-side-combinable
  ``groupBy(word_idx).agg(bit_or(mask))``.  Partial aggregation collapses
  every partition's bits locally; the shuffle moves at most ``m/63``
  pre-OR-ed words per partition, NOT per-key traffic.  Unions of filters
  built on different batches merge with the same ``bit_or`` — the sketch
  is associative, so incremental ingest appends compact to one filter.
* **probe** = explode probe keys into positions → equi-join the words
  table on ``word_idx`` → ``bool_and(bit set)`` per key.  The words table
  is at most ``m/63`` rows by construction (a config knob, independent of
  corpus size) — broadcastable at typical sizings, but the join is a
  plain equi-join so AQE decides; probe traffic is k rows per key either
  way.

vs. the exact fingerprint store (streaming/ingest_pipeline.py): the fp
store anti-join is exact but carries 32-byte fingerprints per seen key
through every batch's join; the Bloom gate carries ~1.2 bytes/key at 1%
FP (k=7) and needs no per-key rows at probe time — the 100 TB posture is
"Bloom prefilter drops the certain-new keys cheaply, the exact store
confirms only the maybe-dups" (false positives re-checked, false
negatives impossible).

Hashing: position_j(key) = ``conv(substring(md5(key || ':' || j), 1, 15),
16, 10) % m`` — 60 bits of md5 parsed as an integer, byte-identical in
DuckDB as ``('0x' || substr(md5(...), 1, 15))::BIGINT`` (parity pinned in
tests/test_bloom.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.operators.stores import (
    allocate_epoch,
    commit_epoch,
    completed_epochs,
    read_completed,
)

WORD_BITS = 63  # bits per word; keeps 1<<bit off the sign bit in BOTH engines
DEFAULT_M_BITS = 1 << 14
DEFAULT_N_HASHES = 5


def _position(key: Column, salt: int, m_bits: int) -> Column:
    """The j-th Bloom bit position of a key: 60 md5 bits mod m."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f":{salt}")))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % F.lit(m_bits)
    ).cast("bigint")


def key_positions(
    df: DataFrame,
    key_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    m_bits: int = DEFAULT_M_BITS,
) -> DataFrame:
    """One row per (input row, hash j): the key's bit positions, split as
    ``(.., word_idx, bit)``.  Shared by build and probe."""
    pos = F.explode(
        F.array(*[_position(F.col(key_col), j, m_bits) for j in range(1, n_hashes + 1)])
    ).alias("pos")
    staged = df.select(key_col, pos)
    return staged.select(
        key_col,
        (F.col("pos") / F.lit(WORD_BITS)).cast("bigint").alias("word_idx"),
        (F.col("pos") % F.lit(WORD_BITS)).cast("int").alias("bit"),
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    m_bits: int = DEFAULT_M_BITS,
) -> DataFrame:
    """Build the filter: ``(word_idx, word)`` with every key's k bits OR-ed
    in.  At most ``ceil(m_bits / 63)`` rows; map-side bit_or makes the
    shuffle per-partition-bounded regardless of key count or skew."""
    pos = key_positions(df, key_col, n_hashes, m_bits)
    # shiftleft's numBits arg only takes a literal in the Python API —
    # the SQL form accepts the per-row bit column
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
    return (
        pos.select("word_idx", mask.alias("mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """OR together filters built over different batches (associative —
    the incremental-ingest append path)."""
    merged = filters[0]
    for f in filters[1:]:
        merged = merged.unionByName(f)
    return merged.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def bloom_maybe_contains(
    df: DataFrame,
    key_col: str,
    words: DataFrame,
    n_hashes: int = DEFAULT_N_HASHES,
    m_bits: int = DEFAULT_M_BITS,
    flag_col: str = "maybe_seen",
) -> DataFrame:
    """Per distinct probe key: ``(key, maybe_seen)`` — true iff ALL k bits
    are set.  Missing words (never touched by any build key) read as
    all-zero via the left join's NULL → bit-not-set."""
    pos = key_positions(df.select(key_col).distinct(), key_col, n_hashes, m_bits)
    joined = pos.join(words, "word_idx", "left")
    bit_set = (
        F.col("word").isNotNull()
        & (F.col("word").bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")) != 0)
    )
    return joined.groupBy(key_col).agg(F.bool_and(bit_set).alias(flag_col))


# ── streamed store (the membership gate's ingest twin) ───────────────────
#
# Bloom words are ASSOCIATIVE (and idempotent) bit_or folds, so the gate
# stays current on a stream by appending per-batch partial words under
# the epoch contract of operators/stores.py (partial table ``words``).
# Like the KMV sketch — and unlike bm25/moments/cms — a REPLAYED batch is
# harmless: re-OR-ing the same bits is a no-op, so at-least-once
# delivery needs no compensation.


def bloom_append(
    batch_df: DataFrame,
    path: str,
    key_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    m_bits: int = DEFAULT_M_BITS,
) -> int:
    """Append one micro-batch's partial Bloom words to the persisted
    store and advance the epoch (returned; unchanged for an empty
    batch).  Layout: ``{path}/words`` (word_idx, word, epoch) — at most
    ceil(m_bits/63) metadata rows per epoch — and ``{path}/stats`` one
    (epoch) row per completed append written LAST."""
    spark = batch_df.sparkSession
    ep = allocate_epoch(spark, path, ("words",))
    words = bloom_build(batch_df, key_col, n_hashes, m_bits).localCheckpoint(
        eager=True
    )
    if not words.count():
        return ep.current
    commit_epoch(spark, path, ep.new, {"words": words})
    return ep.new


def bloom_read(spark, path: str) -> DataFrame:
    """The merged filter (word_idx, word) over every COMPLETE epoch —
    word-wise bit_or, bit-identical to a one-shot ``bloom_build`` over
    everything appended (ORs are order-free and idempotent;
    test-pinned), so ``bloom_maybe_contains`` composes unchanged."""
    _, epochs = completed_epochs(spark, path, "bloom_read")
    return (
        read_completed(spark, path, "words", epochs)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def bloom_compact(spark, src_path: str, dst_path: str) -> None:
    """Fold the per-epoch partials to ONE epoch-0 filter at a NEW path
    (swap by repoint); orphans from a crashed append are dropped by the
    epoch-SET read.  Membership answers are preserved exactly."""
    commit_epoch(
        spark, dst_path, 0, {"words": bloom_read(spark, src_path)},
        mode="errorifexists",
    )
