"""Epoch-SET store growth study (r13 verdict #4): measure what an
append-only sketch store costs as micro-batches accumulate, and what the
automated compaction cadence (``EventIngest(auto_compact_epochs=K)``)
buys back.

Two drives over the same deterministic batch stream:

* **plain** — no cadence: every ``process_batch`` appends one epoch
  row-set per store; readers re-merge ALL of them, file listings grow
  one write's worth of part files per batch.
* **cadence K** — the sketch stores fold to one epoch at a new
  generation dir whenever the epoch count passes K (swap-by-repoint;
  the events sink is never rewritten).

Every ``SAMPLE_EVERY`` batches both drives record: epoch count, part-file
count under the KMV mins dir, and the wall time of a full
``kmv_estimate(...).collect()`` read.  Prints a markdown table for
SCALE.md.

Run: ``python tools/probe_store_growth.py [N_BATCHES] [CADENCE]``
(defaults 100, 10).  Not part of pytest — the suite pins the bounded-
growth CONTRACT in
tests/test_ingest_pipeline.py::test_event_ingest_auto_compaction_bounds_store_growth;
this probe records the measured CURVE.

``python tools/probe_store_growth.py media [N_BATCHES] [FILES_CADENCE]``
(defaults 60, 24) runs the MEDIA twin (r16, the r15 verdict's #8): two
MediaIngest drives over the same deterministic payload stream — plain
vs ``auto_compact_files=K`` — sampling the dhash GATE store's data-file
count and the wall of the store read the next batch's anti-join pays,
then asserting the two sinks kept IDENTICAL rows (compaction is a
layout change, never a semantics change —
tests/test_media_ingest.py pins the contract; this records the curve).
"""

from __future__ import annotations

import glob
import pathlib
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def media_main() -> None:
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    cadence = int(sys.argv[3]) if len(sys.argv) > 3 else 24
    sample_every = max(1, n_batches // 10)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_streams_dead_letter_publishing_spark.operators.stores import data_file_count
    from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (
        MediaIngest,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("media-store-growth-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="media-growth-")
    drives = {
        "plain": MediaIngest(f"{base}/plain"),
        f"cadence{cadence}": MediaIngest(
            f"{base}/auto", auto_compact_files=cadence
        ),
    }
    rows_per_batch = 200
    pool = 2000  # distinct payloads — later batches are mostly dups
    samples: dict[str, list[tuple[int, int, float]]] = {n: [] for n in drives}
    for b in range(1, n_batches + 1):
        ids = [(b - 1) * rows_per_batch + i for i in range(rows_per_batch)]
        batch = spark.createDataFrame(
            [(i,) for i in ids], "doc_id long"
        ).select(
            "doc_id",
            # deterministic payload from a bounded pool: 28 chained md5
            # hex strings (896 bytes — fills the 864-byte dHash thumbnail,
            # so distinct slots get distinct hashes) keyed on the pool
            # slot, so duplicates recur across batches and the gate
            # engages (the synth_docs_imagelike md5 lesson: never a
            # periodic integer polynomial)
            F.encode(
                F.concat(
                    *[
                        F.md5(
                            F.concat(
                                (F.col("doc_id") % pool).cast("string"),
                                F.lit(f":{j}"),
                            )
                        )
                        for j in range(28)
                    ]
                ),
                "utf-8",
            ).alias("payload"),
        )
        for name, ing in drives.items():
            ing.process_batch(batch, b)
        if b % sample_every == 0 or b == n_batches:
            for name, ing in drives.items():
                files = data_file_count(spark, ing.dhash_path)
                t0 = time.time()
                spark.read.parquet(ing.dhash_path).count()
                samples[name].append((b, files, time.time() - t0))

    print(f"\nMedia gate-store growth: {n_batches} micro-batches x "
          f"{rows_per_batch} rows ({pool} distinct payloads), "
          f"auto_compact_files={cadence} (gauge: dhash store)\n")
    print(f"| batches | plain files | plain gate-read s | "
          f"cadence{cadence} files | gate-read s |")
    print("|---|---|---|---|---|")
    for (b, f1, t1), (_, f2, t2) in zip(*samples.values()):
        print(f"| {b} | {f1} | {t1:.2f} | {f2} | {t2:.2f} |")
    auto = drives[f"cadence{cadence}"]
    print(f"\ngenerations rolled by the cadence drive: {auto._gen}")
    # compaction must be invisible to keeper identity
    a = {r.doc_id for r in spark.read.parquet(drives["plain"].sink_path).collect()}
    c = {r.doc_id for r in spark.read.parquet(auto.sink_path).collect()}
    assert a == c, (len(a), len(c), sorted(a ^ c)[:5])
    print(f"sinks identical: {len(a)} keepers both drives")
    spark.stop()


def doc_main() -> None:
    """DocumentIngest twin (r17 — the r16 verdict's #3): plain vs
    ``auto_compact_files=K`` over a deterministic text stream drawn from
    a bounded pool (cross-batch duplicates recur, so the near-dup GATE
    engages every batch).  Samples the bands store's data-file count and
    the wall of the store read the next batch's filter pays; asserts the
    two corpora kept identical doc_ids (compaction is a layout change,
    never a semantics change — tests/test_ingest_pipeline.py pins the
    contract; this records the curve)."""
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    cadence = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    sample_every = max(1, n_batches // 10)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_streams_dead_letter_publishing_spark.operators.stores import data_file_count
    from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (
        DocumentIngest,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("doc-store-growth-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="doc-growth-")
    drives = {
        "plain": DocumentIngest(f"{base}/plain"),
        f"cadence{cadence}": DocumentIngest(
            f"{base}/auto", auto_compact_files=cadence
        ),
    }
    rows_per_batch = 100
    pool = 1000  # distinct texts — later batches are mostly dups
    samples: dict[str, list[tuple[int, int, float]]] = {n: [] for n in drives}
    for b in range(1, n_batches + 1):
        ids = [(b - 1) * rows_per_batch + i for i in range(rows_per_batch)]
        slot = F.col("doc_id") % pool
        n_words = F.lit(8) + F.pmod(F.xxhash64(slot, F.lit(1)), F.lit(40))
        words = F.transform(
            F.sequence(F.lit(1), n_words),
            lambda j: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(slot, j, F.lit(7)), F.lit(5000)).cast("string"),
            ),
        )
        batch = spark.createDataFrame([(i,) for i in ids], "doc_id long").select(
            "doc_id", F.array_join(words, " ").alias("text")
        )
        for name, ing in drives.items():
            ing.process_batch(batch, b)
        if b % sample_every == 0 or b == n_batches:
            for name, ing in drives.items():
                files = data_file_count(spark, ing.bands_path)
                t0 = time.time()
                spark.read.parquet(ing.bands_path).count()
                spark.read.parquet(ing.shingles_path).count()
                samples[name].append((b, files, time.time() - t0))

    print(f"\nDocument gate-store growth: {n_batches} micro-batches x "
          f"{rows_per_batch} rows ({pool} distinct texts), "
          f"auto_compact_files={cadence} (gauge: bands store)\n")
    print(f"| batches | plain files | plain gate-read s | "
          f"cadence{cadence} files | gate-read s |")
    print("|---|---|---|---|---|")
    for (b, f1, t1), (_, f2, t2) in zip(*samples.values()):
        print(f"| {b} | {f1} | {t1:.2f} | {f2} | {t2:.2f} |")
    auto = drives[f"cadence{cadence}"]
    print(f"\ngenerations rolled by the cadence drive: {auto._gen}")
    a = {r.doc_id for r in spark.read.parquet(drives["plain"].corpus_path).collect()}
    c = {r.doc_id for r in spark.read.parquet(auto.corpus_path).collect()}
    assert a == c, (len(a), len(c), sorted(a ^ c)[:5])
    print(f"corpora identical: {len(a)} keepers both drives")
    spark.stop()


def emb_main() -> None:
    """EmbeddingIngest twin of ``doc_main`` — gauge is the buckets store."""
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    cadence = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    sample_every = max(1, n_batches // 10)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        kmeans_fit_quantized,
    )
    from kafka_streams_dead_letter_publishing_spark.sources.synth import (
        synth_embeddings,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.stores import data_file_count
    from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (
        EmbeddingIngest,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("emb-store-growth-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="emb-growth-")
    rows_per_batch = 100
    pool = 1000  # distinct vectors — later batches are mostly dups
    pool_df = synth_embeddings(spark, pool, planted_every=10).select(
        F.col("vec_id").alias("_slot"), "embedding"
    ).persist()
    pool_df.count()
    cents = kmeans_fit_quantized(
        pool_df.select(F.col("_slot").alias("vec_id"), "embedding"), k=4, iters=1
    )
    drives = {
        "plain": EmbeddingIngest(f"{base}/plain", cents, min_cos=0.9),
        f"cadence{cadence}": EmbeddingIngest(
            f"{base}/auto", cents, min_cos=0.9, auto_compact_files=cadence
        ),
    }
    samples: dict[str, list[tuple[int, int, float]]] = {n: [] for n in drives}
    for b in range(1, n_batches + 1):
        ids = [(b - 1) * rows_per_batch + i for i in range(rows_per_batch)]
        batch = (
            spark.createDataFrame([(i,) for i in ids], "vec_id long")
            .withColumn("_slot", F.col("vec_id") % pool)
            .join(pool_df, "_slot")
            .select("vec_id", "embedding")
        )
        for name, ing in drives.items():
            ing.process_batch(batch, b)
        if b % sample_every == 0 or b == n_batches:
            for name, ing in drives.items():
                files = data_file_count(spark, ing.buckets_path)
                t0 = time.time()
                spark.read.parquet(ing.buckets_path).count()
                spark.read.parquet(ing.vectors_path).count()
                samples[name].append((b, files, time.time() - t0))

    print(f"\nEmbedding gate-store growth: {n_batches} micro-batches x "
          f"{rows_per_batch} rows ({pool} distinct vectors), "
          f"auto_compact_files={cadence} (gauge: buckets store)\n")
    print(f"| batches | plain files | plain gate-read s | "
          f"cadence{cadence} files | gate-read s |")
    print("|---|---|---|---|---|")
    for (b, f1, t1), (_, f2, t2) in zip(*samples.values()):
        print(f"| {b} | {f1} | {t1:.2f} | {f2} | {t2:.2f} |")
    auto = drives[f"cadence{cadence}"]
    print(f"\ngenerations rolled by the cadence drive: {auto._gen}")
    a = {r.ref_id for r in spark.read.parquet(drives["plain"].vectors_path).collect()}
    c = {r.ref_id for r in spark.read.parquet(auto.vectors_path).collect()}
    assert a == c, (len(a), len(c), sorted(a ^ c)[:5])
    print(f"accepted sets identical: {len(a)} keepers both drives")
    pool_df.unpersist()
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "media":
        media_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "doc":
        doc_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "emb":
        emb_main()
        return
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    cadence = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sample_every = max(1, n_batches // 10)

    from pyspark.sql import SparkSession

    from kafka_streams_dead_letter_publishing_spark.operators.kmv import kmv_estimate
    from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (
        EventIngest,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("store-growth-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="store-growth-")
    drives = {
        "plain": EventIngest(f"{base}/plain", k=64),
        f"cadence{cadence}": EventIngest(
            f"{base}/auto", k=64, auto_compact_epochs=cadence
        ),
    }
    rows_per_batch = 200
    samples: dict[str, list[tuple[int, int, int, float]]] = {n: [] for n in drives}
    for b in range(1, n_batches + 1):
        rows = [
            (f"t{(b + i) % 4}", (b * 31 + i * 7) % 5000)
            for i in range(rows_per_batch)
        ]
        batch = spark.createDataFrame(rows, "event_type string, user_id long")
        for name, ing in drives.items():
            ing.process_batch(batch, b)
        if b % sample_every == 0 or b == n_batches:
            for name, ing in drives.items():
                epochs = (
                    spark.read.parquet(f"{ing.kmv_path}/stats")
                    .select("epoch").distinct().count()
                )
                files = len(glob.glob(f"{ing.kmv_path}/mins/*.parquet"))
                t0 = time.time()
                kmv_estimate(spark, ing.kmv_path, 64).collect()
                samples[name].append((b, epochs, files, time.time() - t0))

    print(f"\nStore growth: {n_batches} micro-batches x {rows_per_batch} rows, "
          f"KMV k=64, cadence {cadence} (gauge store: kmv/mins)\n")
    print("| batches | plain epochs | plain files | plain read s | "
          f"cadence{cadence} epochs | files | read s |")
    print("|---|---|---|---|---|---|---|")
    plain_key, auto_key = "plain", f"cadence{cadence}"
    for (b, e1, f1, t1), (_, e2, f2, t2) in zip(samples[plain_key], samples[auto_key]):
        print(f"| {b} | {e1} | {f1} | {t1:.2f} | {e2} | {f2} | {t2:.2f} |")
    gens = drives[auto_key]._sketch_gen
    print(f"\ngenerations rolled by the cadence drive: {gens}")
    spark.stop()


if __name__ == "__main__":
    main()
