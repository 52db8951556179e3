"""Fixed-range histogram quantile sketch ([EXT]): a mergeable,
oracle-replayable approximate-quantile summary — the quantile member of
the sketch family next to KMV (distinct), CMS (frequency) and Bloom
(membership).

Why not GK/KLL/t-digest: those summaries are INSERTION-ORDER-dependent,
so no cross-engine oracle can replay them (the HLL problem again).  A
fixed-range equi-width histogram is a pure integer function of the value
multiset given the (lo, width, bins) config — DuckDB rebuilds it
bit-for-bit — and it is exactly what production systems run when the
value domain is known (latencies, prices, scores): rank error is bounded
by the largest bin's mass, tightened by adding bins, never by luck.
When the domain is NOT known up front, ``hist_derive_bounds`` derives
(lo, width) from a deterministic 1-row min/max pass that both engines
replay exactly (r14 — no pre-declared range needed).

The reference app has no counterpart (stateless per-record topology);
this is part of the driver-mandated [EXT] analytics surface.

Spark-first layout
------------------
* **build**: ``bin = clamp(floor((v − lo)/width), 0, bins−1)`` →
  map-side-combinable ``groupBy(group, bin).count()`` — the shuffle
  carries at most groups×bins pre-summed cells per partition regardless
  of row count or skew; the sketch table is metadata-sized by config.
  NULL values drop (SQL aggregate semantics).  Out-of-range values clamp
  into the edge bins (visible as mass at bin 0 / bins−1 — a monitoring
  signal, not silent loss).
* **merge** = cell-wise SUM (associative — the CMS contract), so
  per-batch partials stream under the epoch contract of
  operators/stores.py (partial table ``cells``); a replay double-counts
  — the bm25/moments at-least-once caveat, NOT the KMV/Bloom
  set-idempotent one.
* **quantile readout**: cumulative-sum window over the SKETCH (≤ bins
  rows per group — metadata, never event data), then
  ``min(bin | cum ≥ ceil(n·p))`` with the rank in exact integers
  (``(n*P + 99) DIV 100``) so both engines agree bit-for-bit.

Determinism: ``floor((v − lo)/width)`` is scalar IEEE-double arithmetic
— identical in Spark and DuckDB (same literals, same ops); no sums of
doubles anywhere (counts are integers, ranks are exact integer ceils).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.operators.stores import (
    allocate_epoch,
    commit_epoch,
    completed_epochs,
    read_completed,
)

HIST_BINS = 256
HIST_LO = 0.0
HIST_WIDTH = 4.0  # bins cover [lo, lo + bins*width); outliers clamp to edges


def hist_bin(
    value: Column,
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
    bins: int = HIST_BINS,
) -> Column:
    """The value's bin index (int), clamped into [0, bins-1].

    The clamp runs while the floor is still LONG, and the int cast comes
    LAST: casting the raw index to int first would wrap negative for
    |value| large enough that floor((v-lo)/width) exceeds 2^31 (Spark's
    non-ANSI long→int cast), clamping extreme values into bin 0 instead
    of the top bin while the oracle's CAST(... AS INTEGER) errors —
    engines would diverge on out-of-range inputs (r13 ADVICE)."""
    raw = F.floor((value.cast("double") - F.lit(lo)) / F.lit(width))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")


def hist_derive_bounds(
    df: DataFrame, value_col: str, bins: int = HIST_BINS
) -> tuple[float, float] | None:
    """Deterministic auto-ranging (r13 verdict #3 — lifts the pre-declared
    ``[lo, hi)`` restriction): one metadata-sized min/max aggregate (the
    zorder broadcast-bounds pattern — a 1-row driver scalar, never event
    data) derives ``(lo, width)`` with ``lo = min`` and ``width =
    (max − min)/bins`` (``1.0`` when the domain is a single point, so bin
    arithmetic stays finite).  Returns ``None`` when no non-NULL value
    exists (caller decides the empty shape).

    Cross-engine determinism: min/max of doubles are EXACT (no summation),
    and ``(max − min)/bins`` is one IEEE subtraction + one division —
    DuckDB replays both bit-for-bit from the same parquet values, so the
    derived bins match without shipping literals between engines.  The
    true max lands on the half-open top edge (raw index == bins) and
    clamps into bins−1 — the documented edge-bin behavior, now by
    construction instead of configuration."""
    row = df.agg(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
    ).first()
    if row is None or row.lo is None:
        return None
    lo, hi = float(row.lo), float(row.hi)
    return lo, ((hi - lo) / bins if hi > lo else 1.0)


def hist_build(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
    bins: int = HIST_BINS,
) -> DataFrame:
    """The sketch: ``(group, bin, cnt)`` — at most groups×bins rows.
    NULL values drop (aggregate semantics)."""
    # NULLs filter BEFORE binning: Spark's least/greatest IGNORE NULL
    # arguments (Postgres semantics), so a NULL value would otherwise
    # clamp to bin 0 instead of propagating NULL out of the clamp
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("group"),
            hist_bin(F.col(value_col), lo, width, bins).alias("bin"),
        )
        .groupBy("group", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of sketches built over different batches."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("group", "bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantile_bins(
    sketch: DataFrame, percents: tuple[int, ...] = (50, 90, 99)
) -> DataFrame:
    """Per group: ``(group, n, p{P}_bin ...)`` — the smallest bin whose
    cumulative count reaches ``ceil(n·P/100)`` (exact integer rank).
    The window runs over the SKETCH (≤ bins rows per group — metadata),
    never over event rows."""
    w = Window.partitionBy("group").orderBy("bin")
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("group"))
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for p in percents:
        rank = F.expr(f"(n * {p} + 99) DIV 100")
        aggs.append(
            F.min(F.when(F.col("cum") >= rank, F.col("bin"))).alias(f"p{p}_bin")
        )
    return cum.groupBy("group").agg(*aggs)


# ── streamed store (the quantile sketch's ingest twin) ───────────────────


def hist_append(
    batch_df: DataFrame,
    path: str,
    group_col: str,
    value_col: str,
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
    bins: int = HIST_BINS,
) -> int:
    """Append one micro-batch's partial histogram cells to the persisted
    store under the epoch-SET contract and advance the epoch (returned;
    unchanged for an empty batch).  Layout: ``{path}/cells``
    (group, bin, cnt, epoch) and ``{path}/stats`` one (epoch) row per
    completed append, written LAST."""
    spark = batch_df.sparkSession
    ep = allocate_epoch(spark, path, ("cells",))
    sk = hist_build(batch_df, group_col, value_col, lo, width, bins).localCheckpoint(
        eager=True
    )
    if not sk.count():
        return ep.current
    commit_epoch(spark, path, ep.new, {"cells": sk})
    return ep.new


def hist_read(spark, path: str) -> DataFrame:
    """The merged sketch (group, bin, cnt) over every COMPLETE epoch —
    cell-wise integer sum, bit-identical to a one-shot ``hist_build``
    over everything appended (associative sums; test-pinned)."""
    _, epochs = completed_epochs(spark, path, "hist_read")
    return (
        read_completed(spark, path, "cells", epochs)
        .groupBy("group", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def hist_compact(spark, src_path: str, dst_path: str) -> None:
    """Fold the per-epoch partials to ONE epoch-0 sketch at a NEW path
    (swap by repoint); orphans from a crashed append are dropped by the
    epoch-SET read.  Quantile readouts are preserved exactly."""
    commit_epoch(
        spark, dst_path, 0, {"cells": hist_read(spark, src_path)},
        mode="errorifexists",
    )
