"""Count-min sketch ([EXT]): fixed-size frequency summaries for heavy-
hitter queries over unbounded key domains — "how often has this key
appeared, within epsilon" without a per-key counter table.

The reference app has no counterpart (stateless per-record topology);
this is part of the driver-mandated [EXT] analytics surface, and the
second member of the sketch family next to HLL (events_approx_distinct)
and Bloom (operators/bloom.py).  Public method: Cormode & Muthukrishnan
2005 — d hash rows x w counters; estimate(key) = min over rows of the
counter the key hashes to.  Never underestimates; overestimates by at
most eps*N with probability 1-delta for w = ceil(e/eps), d = ceil(ln
1/delta).

Unlike HLL (whose register layout is engine-specific, leaving
events_approx_distinct_users rows-only), a CMS is a pure integer
function of the input multiset given fixed hash functions — so the
DuckDB oracle replays the whole sketch bit-for-bit and the registry row
is hash-green.

Spark-first layout
------------------
* **build**: explode each row into its d (row_j, col_j) cells →
  ``groupBy(j, col).count()`` — map-side partial aggregation collapses
  hot keys per partition; the shuffle carries at most d*w pre-summed
  cells per partition, NOT per-event traffic.  The sketch table is at
  most d*w rows — metadata-sized by construction (a config knob,
  independent of stream length), mergeable across batches by cell-wise
  SUM (associative, same incremental story as bloom_merge).
* **estimate**: probe keys explode into their d cells → equi-join the
  sketch on (j, col) → ``min(cnt)`` per key.  The sketch side is
  broadcast-sized; probe traffic is d rows per key.

Hashing: col_j(key) = ``conv(substring(md5(key || '#' || j), 1, 15),
16, 10) % w`` — the same 60-bit md5 parse the Bloom filter pins for
cross-engine parity ('#' salt decorrelates the two sketch families).
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

DEFAULT_WIDTH = 512
DEFAULT_DEPTH = 4


def _cell(key: Column, row: int, width: int) -> Column:
    h = F.md5(F.concat(key.cast("string"), F.lit(f"#{row}")))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % F.lit(width)
    ).cast("bigint")


def _cells(df: DataFrame, key_col: str, depth: int, width: int) -> DataFrame:
    """One row per (input row, sketch row j): ``(.., j, col)``."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), _cell(F.col(key_col), j, width).alias("col")
                )
                for j in range(1, depth + 1)
            ]
        )
    ).alias("cell")
    return df.select(key_col, pairs).select(
        key_col, F.col("cell.j").alias("j"), F.col("cell.col").alias("col")
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """The sketch: ``(j, col, cnt)`` — at most depth*width rows."""
    return (
        _cells(df, key_col, depth, width)
        .groupBy("j", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of sketches built over different batches."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("j", "col").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    probe: DataFrame,
    key_col: str,
    sketch: DataFrame,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    est_col: str = "est_count",
) -> DataFrame:
    """Per distinct probe key: ``(key, est_count)`` = min over the d
    counters.  A key whose cell was never touched reads 0 via the left
    join's NULL."""
    cells = _cells(probe.select(key_col).distinct(), key_col, depth, width)
    joined = cells.join(sketch, ["j", "col"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(est_col)
    )


# ── streamed store (the heavy-hitter sketch's ingest twin) ───────────────
#
# CMS cells are ASSOCIATIVE integer sums, so the sketch stays current on
# a stream by appending per-batch partial cells under the epoch contract
# of operators/stores.py (partial table ``cells``).  Unlike the KMV
# set-sketch, REPLAYING a batch here double-counts — the same
# at-least-once caveat as bm25/moments.


def cms_append(
    batch_df: DataFrame,
    path: str,
    key_col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> int:
    """Append one micro-batch's partial CMS cells to the persisted store
    and advance the epoch (returned; unchanged for an empty batch).
    Layout: ``{path}/cells`` (j, col, cnt, epoch) per-batch partials —
    <= depth*width metadata rows per epoch — and ``{path}/stats`` one
    (epoch) row per completed append written LAST."""
    spark = batch_df.sparkSession
    ep = allocate_epoch(spark, path, ("cells",))
    sk = cms_build(batch_df, key_col, depth, width).localCheckpoint(
        eager=True
    )
    if not sk.count():
        return ep.current
    commit_epoch(spark, path, ep.new, {"cells": sk})
    return ep.new


def cms_read(spark, path: str) -> DataFrame:
    """The merged sketch (j, col, cnt) over every COMPLETE epoch —
    cell-wise integer sum, bit-identical to a one-shot ``cms_build``
    over everything appended (associative sums are batching-free;
    test-pinned), so ``cms_estimate`` composes unchanged."""
    _, epochs = completed_epochs(spark, path, "cms_read")
    return (
        read_completed(spark, path, "cells", epochs)
        .groupBy("j", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_compact(spark, src_path: str, dst_path: str) -> None:
    """Fold the per-epoch partials to ONE epoch-0 sketch at a NEW path
    (swap by repoint); orphans from a crashed append are dropped by the
    epoch-SET read.  Estimates are preserved exactly (cell-wise sums)."""
    commit_epoch(
        spark, dst_path, 0, {"cells": cms_read(spark, src_path)},
        mode="errorifexists",
    )
