"""MediaIngest (streaming/ingest_pipeline.py): ingest-time exact
perceptual-hash image dedup — multi-batch readStream drive with planted
cross-batch duplicates, replay idempotence after a complete commit, the
at-least-once crash window, and compaction."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from kafka_streams_dead_letter_publishing_spark.functions.multimodal import (
    DHASH_BYTES,
    dhash_reference,
)
from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (
    MediaIngest,
)

_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
)


def _images(n: int, seed: int = 3) -> list[bytes]:
    rng = random.Random(seed)
    return [
        bytes(rng.randrange(256) for _ in range(DHASH_BYTES)) for _ in range(n)
    ]


def _rows(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_multi_batch_drive_exactly_one_keeper_per_dup(spark, tmp_path):
    """Three readStream micro-batches with exact duplicates planted
    within a batch AND across batches: exactly one keeper per image
    survives — first-accepted across batches, lowest-id within one."""
    imgs = _images(6)
    batches = [
        # batch 0: img0 twice (intra-batch: id 10 wins), img1
        [(11, imgs[0]), (10, imgs[0]), (12, imgs[1])],
        # batch 1: img0 again (cross-batch dup → rejected), img2, img3
        [(20, imgs[0]), (21, imgs[2]), (22, imgs[3])],
        # batch 2: img1 + img3 again (rejected), img4
        [(30, imgs[1]), (31, imgs[3]), (32, imgs[4])],
    ]
    src = str(tmp_path / "src")
    _rows(spark, batches[0]).coalesce(1).write.mode("append").parquet(src)
    ing = MediaIngest(str(tmp_path / "ingest"))
    stream = (
        spark.readStream.schema(_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(ing.process_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            _rows(spark, b).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    kept = {
        r.doc_id: bytes(r.payload)
        for r in spark.read.parquet(ing.sink_path).collect()
    }
    assert sorted(kept) == [10, 12, 21, 22, 32]
    assert kept[10] == imgs[0] and kept[12] == imgs[1]
    # the store holds exactly the accepted hashes
    store = {
        (r.dhash_hi, r.dhash_lo)
        for r in spark.read.parquet(ing.dhash_path).collect()
    }
    assert store == {dhash_reference(imgs[i]) for i in (0, 1, 2, 3, 4)}


def test_replay_after_complete_commit_is_a_noop(spark, tmp_path):
    imgs = _images(3, seed=5)
    batch = [(1, imgs[0]), (2, imgs[1]), (3, imgs[2])]
    ing = MediaIngest(str(tmp_path / "ingest"))
    ing.process_batch(_rows(spark, batch), 0)
    n1 = spark.read.parquet(ing.sink_path).count()
    ing.process_batch(_rows(spark, batch), 1)  # at-least-once re-delivery
    assert spark.read.parquet(ing.sink_path).count() == n1 == 3


def test_crash_window_degrades_to_at_least_once_duplicates(spark, tmp_path):
    """Simulate a crash BETWEEN the sink append and the store append:
    the replay re-accepts the batch (duplicates in the sink — the
    documented safe direction), the store converges, and a THIRD
    delivery is a no-op."""
    imgs = _images(2, seed=9)
    batch = [(1, imgs[0]), (2, imgs[1])]
    ing = MediaIngest(str(tmp_path / "ingest"))
    # crash sim: write the sink only (what a crash mid-batch leaves)
    from kafka_streams_dead_letter_publishing_spark.functions.multimodal import (
        with_dhash,
    )

    with_dhash(_rows(spark, batch)).select(
        "doc_id", "payload", "dhash_hi", "dhash_lo"
    ).write.mode("append").parquet(ing.sink_path)
    ing.process_batch(_rows(spark, batch), 0)  # the replay
    assert spark.read.parquet(ing.sink_path).count() == 4  # duplicates, kept
    ing.process_batch(_rows(spark, batch), 1)  # next delivery: no-op
    assert spark.read.parquet(ing.sink_path).count() == 4


def test_compact_preserves_gate_and_media(spark, tmp_path):
    imgs = _images(4, seed=11)
    ing = MediaIngest(str(tmp_path / "a"))
    ing.process_batch(_rows(spark, [(1, imgs[0]), (2, imgs[1])]), 0)
    ing.process_batch(_rows(spark, [(3, imgs[2])]), 1)
    ing2 = ing.compact(str(tmp_path / "b"))
    assert spark.read.parquet(ing2.sink_path).count() == 3
    # the compacted gate still rejects known images and accepts new ones
    ing2.process_batch(_rows(spark, [(4, imgs[0]), (5, imgs[3])]), 2)
    kept = sorted(r.doc_id for r in spark.read.parquet(ing2.sink_path).collect())
    assert kept == [1, 2, 3, 5]


def test_null_payloads_are_refused_up_front(spark, tmp_path):
    """A NULL payload hashes to NULL, and NULL never matches the store's
    anti-join — without the up-front refusal every later NULL payload
    would be accepted forever."""
    imgs = _images(1, seed=13)
    ing = MediaIngest(str(tmp_path / "ingest"))
    ing.process_batch(
        _rows(spark, [(1, imgs[0]), (2, None), (3, None)]), 0
    )
    kept = sorted(r.doc_id for r in spark.read.parquet(ing.sink_path).collect())
    assert kept == [1]
    assert spark.read.parquet(ing.dhash_path).filter(
        F.col("dhash_hi").isNull()
    ).count() == 0


def test_auto_compaction_bounds_store_files_and_preserves_gate(spark, tmp_path):
    """auto_compact_files=K: a long drive keeps the dhash store's data-file
    count bounded (folds into dhash-gen{g} dirs), the gate still rejects
    every replayed hash, and the readout equals an uncompacted twin's."""
    from kafka_streams_dead_letter_publishing_spark.operators.stores import data_file_count

    imgs = _images(30, seed=21)
    ing = MediaIngest(str(tmp_path / "auto"), auto_compact_files=4)
    twin = MediaIngest(str(tmp_path / "plain"))
    for b in range(10):
        batch = [(100 * b + i, imgs[3 * b + i]) for i in range(3)]
        # plant a cross-batch dup of batch 0's first image in every batch
        if b:
            batch.append((100 * b + 9, imgs[0]))
        ing.process_batch(_rows(spark, batch), b)
        twin.process_batch(_rows(spark, batch), b)
        assert data_file_count(spark, ing.dhash_path) <= 4 + 8, b
    assert ing.dhash_path != str(tmp_path / "auto" / "dhash")  # folded
    kept_a = sorted(r.doc_id for r in spark.read.parquet(ing.sink_path).collect())
    kept_p = sorted(r.doc_id for r in spark.read.parquet(twin.sink_path).collect())
    assert kept_a == kept_p  # compaction never changes the gate's decisions
    store = {
        (r.dhash_hi, r.dhash_lo)
        for r in spark.read.parquet(ing.dhash_path).collect()
    }
    assert store == {dhash_reference(imgs[i]) for i in range(30)}


def test_auto_compaction_resumes_after_driver_restart(spark, tmp_path):
    """A fresh MediaIngest over the same base_dir (a driver restart) must
    repoint at the newest COMPLETE generation — not silently read the
    stale pre-fold store — and keep rejecting previously accepted
    hashes; a partial (no _SUCCESS) generation dir is skipped for reads
    and skipped past for the next allocation."""
    imgs = _images(8, seed=33)
    base = str(tmp_path / "re")
    ing = MediaIngest(base, auto_compact_files=1)
    for b in range(3):
        ing.process_batch(_rows(spark, [(10 * b + i, imgs[2 * b + i]) for i in range(2)]), b)
    assert "dhash-gen" in ing.dhash_path
    gen_before = ing.dhash_path
    # fake a crashed fold: a partial generation dir without _SUCCESS
    import pathlib

    partial = pathlib.Path(base) / f"dhash-gen{int(gen_before.rsplit('gen', 1)[1]) + 1}"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"not a real file")
    ing2 = MediaIngest(base, auto_compact_files=1)
    # replay an already-accepted image + one new: gate holds across restart
    ing2.process_batch(_rows(spark, [(900, imgs[0]), (901, imgs[6])]), 99)
    assert ing2.dhash_path != str(partial)  # partial dir never read
    kept = sorted(r.doc_id for r in spark.read.parquet(ing2.sink_path).collect())
    assert 900 not in kept and 901 in kept
    # the fold after the replay allocated PAST the partial dir
    assert int(ing2.dhash_path.rsplit("gen", 1)[1]) > int(
        str(partial).rsplit("gen", 1)[1]
    )
