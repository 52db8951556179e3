"""Append-only parquet stores: the ONE commit protocol every streamed
store in the package shares ([EXT]).

The reference app's only durable state is Kafka offsets.  The streamed
extensions also keep append-only parquet stores, and all of them commit
by one rule — the commit-log rule Structured Streaming (Armbrust et al.,
SIGMOD 2018) gives every sink: write the partials FIRST and the
completion marker LAST, and let readers see only what has a marker.  A
crash between the two leaves invisible orphans, and a retry never
collides with them.  Every store has a single serialized writer (the
``foreachBatch`` contract); nothing here is safe under concurrent
writers.

Epoch contract (the kmv, cms, hist and bloom sketch stores, the pca
moments store, the bm25 postings index).  A store at ``path`` holds one
or more partial tables ``{path}/{table}`` whose rows carry an ``epoch``
column, plus ``{path}/stats`` with one row per COMPLETED append — the
marker.  An append:

1. :func:`allocate_epoch` reads the newest stats row and allocates a new
   epoch ABOVE both its epoch and the max epoch of every partial table.
   A crashed append may have left partials above the newest stats epoch;
   a retry that reused that epoch would make the orphans readable beside
   its own rows.
2. :func:`commit_epoch` writes the partials stamped with that epoch,
   then the stats row LAST.

Readers go through :func:`completed_epochs` and :func:`read_completed`:
a broadcast semi-join against the SET of epochs that have a stats row
(not a threshold), so orphans stay invisible even after a retry
allocated past them.  A stats store with no rows raises ``ValueError``
— no append ever completed.  Compaction folds the completed epochs to
one epoch at a NEW path (swap by repoint; orphans are dropped).

Generation contract (the gate stores of ``streaming/ingest_pipeline.py``).
A fold rewrites a store into ``{base_dir}/{prefix}-gen{g}`` and the
owner repoints at it.  :func:`allocate_generation` picks the next ``g``
past ANY existing directory, so a crashed fold's partial dir is skipped.
On restart :func:`resume_generations` points each store at its newest
generation whose last-written directory holds Spark's ``_SUCCESS``
marker; the fallback is per store, so a crash mid-fold (some stores
folded, some not) resumes safely.

What differs per store is its REPLAY semantics under at-least-once
delivery, documented at each caller: the KMV and Bloom sketches are
sets, so a replayed batch is a no-op; CMS, hist, moments and bm25 are
sums, so a replayed batch double-counts.

The probes use the Hadoop FileSystem API, so hdfs:// and s3a:// paths
probe exactly like the paths Spark writes (a driver-local listdir would
silently disengage on a remote store).
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def _fs(spark, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _data_files(spark, path: str) -> Iterator[str]:
    """Names of the data files directly under ``path`` (markers and
    hidden files skipped), lazily — callers may stop at the first."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not name.startswith(("_", ".")):
            yield name


def store_exists(spark, path: str) -> bool:
    """True iff ``path`` holds at least one data file."""
    return any(True for _ in _data_files(spark, path))


def data_file_count(spark, path: str) -> int:
    """Number of data files under ``path`` — a driver-side metadata
    listing (no Spark job), the gauge for file-count compaction
    cadences."""
    return sum(1 for _ in _data_files(spark, path))


def dir_exists(spark, path: str) -> bool:
    """Bare existence probe (file or dir, markers included) — generation
    allocation must see PARTIAL dirs too, which the data-file probes
    ignore."""
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


# ── epoch contract ───────────────────────────────────────────────────────


class Epoch(NamedTuple):
    newest: Row | None  # newest stats row (running totals); None on a fresh store
    current: int  # its epoch, -1 on a fresh store: what an empty batch returns
    new: int  # the epoch this append writes


def allocate_epoch(spark, path: str, partials: Sequence[str]) -> Epoch:
    """Read the newest stats row and allocate the next epoch above it and
    above every epoch already present in the ``partials`` tables (the
    max is a parquet-footer metadata read, not a data scan)."""
    newest = None
    if store_exists(spark, f"{path}/stats"):
        newest = spark.read.parquet(f"{path}/stats").orderBy(F.desc("epoch")).first()
    current = -1 if newest is None else newest.epoch
    new = current + 1
    for table in partials:
        if store_exists(spark, f"{path}/{table}"):
            top = spark.read.parquet(f"{path}/{table}").agg(F.max("epoch")).first()[0]
            if top is not None and top >= new:
                new = top + 1
    return Epoch(newest, current, new)


def commit_epoch(
    spark,
    path: str,
    epoch: int,
    partials: Mapping[str, DataFrame],
    stats_row: tuple | None = None,
    stats_schema: str = "epoch bigint",
    mode: str = "append",
    partition_by: str | None = None,
) -> None:
    """Write each partial table stamped with ``epoch`` (in mapping
    order), then the stats row LAST — ``(epoch,)`` unless the store keeps
    running totals.  ``mode="errorifexists"`` is the compaction form."""
    for table, df in partials.items():
        writer = df.withColumn("epoch", F.lit(epoch).cast("long")).write.mode(mode)
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(f"{path}/{table}")
    spark.createDataFrame([stats_row or (epoch,)], stats_schema).write.mode(
        mode
    ).parquet(f"{path}/stats")


def completed_epochs(spark, path: str, reader: str) -> tuple[Row, DataFrame]:
    """(newest stats row, broadcast frame of every completed epoch).
    Raises ``ValueError`` naming ``reader`` when the stats store holds no
    rows."""
    stats = spark.read.parquet(f"{path}/stats")
    newest = stats.orderBy(F.desc("epoch")).first()
    if newest is None:
        raise ValueError(
            f"{reader}: {path}/stats holds no rows — no append ever "
            "completed (stats are the completion gate)"
        )
    return newest, F.broadcast(stats.select("epoch").distinct())


def read_completed(spark, path: str, table: str, epochs: DataFrame) -> DataFrame:
    """The rows of ``{path}/{table}`` whose epoch is in ``epochs``."""
    return spark.read.parquet(f"{path}/{table}").join(epochs, "epoch", "left_semi")


# ── generation contract ──────────────────────────────────────────────────


def _gen_dir(base_dir: str, prefix: str, g: int) -> str:
    return f"{base_dir}/{prefix}-gen{g}"


def resume_generations(
    spark,
    base_dir: str,
    prefix: str,
    stores: Sequence[str],
    marker: str = "_SUCCESS",
) -> tuple[int, dict[str, str]]:
    """(highest generation number on disk, complete or partial; store →
    its newest complete generation path).  A store lives at
    ``{prefix}-gen{g}/{store}`` (``store=""``: the generation dir
    itself) and is complete when ``{that}/{marker}`` exists; stores with
    no complete generation are absent from the mapping."""
    gen = 0
    while dir_exists(spark, _gen_dir(base_dir, prefix, gen + 1)):
        gen += 1
    found = {}
    for store in stores:
        for g in range(gen, 0, -1):
            cand = _gen_dir(base_dir, prefix, g)
            cand = f"{cand}/{store}" if store else cand
            if dir_exists(spark, f"{cand}/{marker}"):
                found[store] = cand
                break
    return gen, found


def allocate_generation(
    spark, base_dir: str, prefix: str, last: int
) -> tuple[int, str]:
    """(g, dir) of the first generation above ``last`` with no directory
    on disk — skips past a crashed fold's partial dir."""
    g = last + 1
    while dir_exists(spark, _gen_dir(base_dir, prefix, g)):
        g += 1
    return g, _gen_dir(base_dir, prefix, g)
