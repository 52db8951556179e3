"""Self-growing deduped ingest pipelines ([EXT]): the composed production
shape a training-data pipeline runs 24/7 — each micro-batch is deduped
against everything ALREADY ACCEPTED (and within itself), and the
survivors extend the same on-disk state the next batch dedups against.

Two twins over the same pattern:

* :class:`EmbeddingIngest` — cosine near-dup reject (``operators.
  ann_filter``) against a growing sign-LSH bucket store, survivors
  appended BOTH to the bucket/vector stores and to a partitioned learned-
  IVF index (``operators.kmeans.ivf_append``), so the deduped corpus is
  immediately servable (``ivf_search_batch``).
* :class:`DocumentIngest` — Jaccard near-dup reject (``operators.
  neardup_filter``) against a growing band/shingle store, survivors
  appended to the corpus sink.

Index staging is DELEGATED to ``build_ann_index`` / ``build_neardup_index``
— the pipeline appends exactly the frames those builders produce, so the
stored keys can never drift from the keys the filter derives for a batch.

STATE & RECOVERY.  State is plain parquet appended per batch (probed via
the Hadoop FileSystem API, so any scheme Spark can write — local, HDFS,
S3A — works); nothing accumulates on the driver or in executor memory.
Restart safety is at-least-once via the streaming checkpoint: within a
batch the KEY store is written LAST and is also the existence gate, so
the crash windows degrade safely — a crash before the key-store append
replays the batch with the filter disengaged for those rows (duplicate
appends, the documented at-least-once posture; readers dedup on id),
while a replay AFTER the append self-matches against the store and
appends nothing (idempotent).  The accepted rows are materialized with an
eager ``localCheckpoint`` before any append because their lineage READS
the very stores the appends extend.

DEDUP SEMANTICS (deliberately retention-conservative): a batch row is
dropped iff it is near-dup-similar to (a) anything already accepted, or
(b) ANY lower-id row of the same batch — including lower-id rows that
were themselves dropped.  On a similarity chain a < b < c (a~b, b~c,
a!~c) this drops BOTH b and c, where strict one-at-a-time processing
would re-admit c; the one-join rule never admits a near-dup of anything
seen, at the price of over-dropping chain tails — the standard trade for
a single-join (non-iterative) online dedup.  The exact transitive-keeper
pass is the batch registry's ``docs_neardup_keepers``.  Keeper identity
is first-accepted (stream arrival order across batches, lowest id within
a batch).

ADMISSION: rows that cannot participate in similarity are rejected up
front — embeddings must be finite, full-dimension AND non-zero-norm
(cosine against a zero vector is undefined, so such a row could never be
deduped against anything, and letting it through would diverge the IVF
index from the accepted store); documents must carry at least one shingle
(≥ 3 tokens — a shingle-less doc collides with nothing and would be
re-appended on every replay, breaking idempotency).  Each batch also
collapses EXACT duplicates (identical embedding / identical normalized
text) to the lowest id before the near-dup join — the flood guard a
batch of a million identical rows needs, since the hot-key cap cannot
defuse exact floods without admitting every copy.

SCALE KNOBS: the LSH config (``n_tables`` × ``planes_per_table``) is
FROZEN into the persisted key store — choose depth for the TARGET corpus
size up front (``planes_per_table_for``); re-deepening is a rebuild into
a new base_dir, never an in-place change.  ``max_occupancy`` applies the
hot-key caps (see the builders' docstrings) to the STORE side of every
batch's filter AND to the intra-batch self-join, so a boilerplate phrase
or dense vector cluster — whether in the accepted corpus or arriving in
one correlated batch — cannot make one bucket's candidate join quadratic.
Append-only stores accumulate files per batch; :meth:`compact` rewrites
them into a NEW base_dir (swap between runs, like ``ivf_compact``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.functions.similarity import (
    N_TABLES,
    PLANES_PER_TABLE,
    dot,
)
from kafka_streams_dead_letter_publishing_spark.operators.ann_filter import (
    AnnIndex,
    ann_filter,
    build_ann_index,
)
from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
    indexable,
    ivf_append,
)
from kafka_streams_dead_letter_publishing_spark.operators.neardup_filter import (
    NeardupIndex,
    build_neardup_index,
)
from kafka_streams_dead_letter_publishing_spark.operators.occupancy import drop_hot_keys
from kafka_streams_dead_letter_publishing_spark.operators.stores import (
    allocate_generation,
    data_file_count,
    resume_generations,
    store_exists,
)


class EmbeddingIngest:
    """foreachBatch body: batch → admission filter → reject near-dups of
    accepted vectors → intra-batch dedup → append survivors to the
    (buckets, vectors) stores and the partitioned IVF index.

    ``centroids_fixed`` are the FROZEN microunit k-means centroids the IVF
    index was built with (``kmeans_fit_quantized``); refitting on drifted
    data is a rebuild into a new base_dir, never an in-place mutation —
    the same contract as :func:`operators.kmeans.ivf_append`.
    """

    def __init__(
        self,
        base_dir: str,
        centroids_fixed: list[list[int]],
        min_cos: float = 0.9,
        n_tables: int = N_TABLES,
        planes_per_table: int = PLANES_PER_TABLE,
        max_occupancy: int | None = None,
        pq_books: list | None = None,
        pq_coarse: list[list[int]] | None = None,
        moments_store: bool = False,
        decontam_eval_path: str | None = None,
        decontam_min_cos: float = 0.85,
        decontam_min_recall: float = 0.95,
        id_col: str = "vec_id",
        auto_compact_files: int | None = None,
    ) -> None:
        self.base_dir = base_dir
        self.buckets_path = f"{base_dir}/buckets"
        self.vectors_path = f"{base_dir}/vectors"
        self.ivf_path = f"{base_dir}/ivf"
        self.pq_path = f"{base_dir}/pqcodes"
        #: automated GATE-store compaction cadence (r17 — the MediaIngest
        #: auto_compact_files pattern applied to the ANN stores): every
        #: accepted batch appends a small file-set to buckets/vectors and
        #: the store filter re-reads ALL of them each micro-batch.  When
        #: the buckets store's data-file count exceeds this, process_batch
        #: folds buckets+vectors into a new ``ann-gen{g}`` generation dir
        #: (the generation contract of operators/stores.py; the
        #: IVF/PQ/moments payload stores are never rewritten).
        self.auto_compact_files = auto_compact_files
        self._gen = 0
        self._resumed = False
        #: optional PCA-moments lockstep (operators.pca.moments_append):
        #: keeps the exact covariance — and the variance-explained gate
        #: built on it — current as the corpus grows, zero re-scans
        self.moments_store = moments_store
        self.moments_path = f"{base_dir}/moments"
        self.centroids_fixed = centroids_fixed
        self.min_cos = min_cos
        self.n_tables = n_tables
        self.planes_per_table = planes_per_table
        self.max_occupancy = max_occupancy
        #: optional IVF-PQ lockstep: frozen codebooks (operators.pq.pq_fit
        #: in UNIT space) keep a memory-bounded codes table growing beside
        #: the float IVF index; ``pq_coarse`` are the routing centroids for
        #: that table (fit them on normalized vectors — they default to
        #: centroids_fixed for convenience, which costs some recall if
        #: those were fit on raw vectors; cell assignment and serving stay
        #: self-consistent either way)
        self.pq_books = pq_books
        self.pq_coarse = pq_coarse if pq_coarse is not None else centroids_fixed
        #: optional semantic eval-leak gate (operators.ann_filter.
        #: semantic_decontaminate — DocumentIngest's decontam_fps_path
        #: twin in embedding space): a parquet of benchmark embeddings;
        #: batch vectors cosine-close to ANY eval vector are rejected
        #: BEFORE dedup and never enter the stores — a leak must not
        #: suppress a later clean near-dup of itself.  The (tables,
        #: depth) config is recall-solved and REFUSES infeasible targets
        #: (fail-closed).  The eval set is external and immutable.
        self.decontam_eval_path = decontam_eval_path
        self.decontam_min_cos = decontam_min_cos
        self.decontam_min_recall = decontam_min_recall
        self._decontam_n_eval: int | None = None
        self._decontam_index = None  # built+persisted once (eval set is immutable)
        self.id_col = id_col

    def close(self) -> None:
        """Release executor storage pinned by this instance: the
        once-per-ingest decontam index persists its buckets and vectors
        frames (process_batch), and nothing else would ever unpersist
        them — a long-lived driver that compacts repeatedly would leak
        cache across cycles otherwise (r13 ADVICE)."""
        idx = self._decontam_index
        if idx is not None:
            idx.buckets.unpersist()
            idx.vectors.unpersist()
            self._decontam_index = None

    def _build(self, df: DataFrame) -> AnnIndex:
        return build_ann_index(
            df,
            id_col=self.id_col,
            n_tables=self.n_tables,
            planes_per_table=self.planes_per_table,
        )

    def _collapse_exact_dups(self, batch: DataFrame) -> DataFrame:
        """Flood guard: collapse rows with IDENTICAL embeddings to the
        lowest id BEFORE the near-dup join — a micro-batch of N copies of
        one vector costs one shuffle here instead of an N² candidate
        join (the hot-key cap can't defuse exact floods: dropping their
        buckets would admit every copy)."""
        from pyspark.sql import Window

        w = Window.partitionBy("embedding").orderBy(F.asc(self.id_col))
        return (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _intra_batch_dedup(self, batch: DataFrame, idx: AnnIndex) -> DataFrame:
        """Drop a row iff ANY lower-id batch row is cosine-similar (see
        the module's dedup-semantics note) — one candidate equi-join over
        the PREBUILT batch index + exact verify, no iteration (r16: the
        6x4 plane-fold chain is staged once per micro-batch and shared
        with the store filter and the store appends).
        The batch-side key frames get the same hot-key cap as the store
        read, so a correlated batch can't make its own self-join
        quadratic either."""
        capped = drop_hot_keys(idx.buckets, self.max_occupancy)
        cands = (
            capped.alias("a")
            .join(capped.alias("b"), "bk")
            .filter(F.col("a.ref_id") < F.col("b.ref_id"))
            .select(F.col("a.ref_id").alias("va"), F.col("b.ref_id").alias("vb"))
            .distinct()
        )
        a = idx.vectors.select(
            F.col("ref_id").alias("va"),
            F.col("ref_emb").alias("ea"),
            F.col("ref_nrm").alias("na"),
        )
        b = idx.vectors.select(
            F.col("ref_id").alias("vb"),
            F.col("ref_emb").alias("eb"),
            F.col("ref_nrm").alias("nb"),
        )
        drop = (
            cands.join(a, "va")
            .join(b, "vb")
            .select(
                "vb",
                F.try_divide(
                    dot("ea", "eb"), F.col("na") * F.col("nb")
                ).alias("cos"),
            )
            .filter(F.col("cos") >= F.lit(self.min_cos))
            .select("vb")
            .distinct()
            .withColumnRenamed("vb", self.id_col)
        )
        return batch.join(drop, self.id_col, "left_anti")

    def _resume_generations(self, spark: SparkSession) -> None:
        """Repoint buckets/vectors at their newest COMPLETE ann-gen{g}
        after a driver restart (operators/stores.py)."""
        if self._resumed:
            return
        self._resumed = True
        self._gen, found = resume_generations(
            spark, self.base_dir, "ann", ("buckets", "vectors")
        )
        for store, path in found.items():
            setattr(self, f"{store}_path", path)

    def _maybe_auto_compact(self, spark: SparkSession) -> None:
        """Fold buckets+vectors into a fresh generation once the buckets
        store's data-file count passes the cadence.  DISTINCT folds (the
        appends are at-least-once under crash-replay; keys/norms are pure
        functions of the embedding, so collapsing duplicate rows never
        changes a decision).  Vectors first, buckets LAST — buckets is
        the candidate side + existence gate, so it flips generations
        last."""
        if (
            self.auto_compact_files is None
            or data_file_count(spark, self.buckets_path) <= self.auto_compact_files
        ):
            return
        self._gen, gen_dir = allocate_generation(
            spark, self.base_dir, "ann", self._gen
        )
        spark.read.parquet(self.vectors_path).distinct().repartition(
            "ref_id"
        ).write.mode("errorifexists").parquet(f"{gen_dir}/vectors")
        self.vectors_path = f"{gen_dir}/vectors"
        spark.read.parquet(self.buckets_path).distinct().repartition(
            "bk"
        ).write.mode("errorifexists").parquet(f"{gen_dir}/buckets")
        self.buckets_path = f"{gen_dir}/buckets"

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        self._resume_generations(spark)
        dim = len(self.centroids_fixed[0])
        # admission: finite full-dimension AND non-zero-norm — a zero
        # vector has undefined cosine, can never be deduped, and would
        # diverge the IVF index from the accepted store
        batch = batch.filter(
            indexable(F.col("embedding"), dim)
            & (dot("embedding", "embedding") > 0)
        )
        if self.decontam_eval_path is not None:
            from kafka_streams_dead_letter_publishing_spark.operators.ann_filter import (
                build_decontam_index,
            )

            # gate BEFORE dedup (the DocumentIngest ordering contract):
            # a rejected leak never enters the stores and never
            # suppresses a clean near-dup of itself.  The eval set is
            # documented immutable, so the LSH index over it is built —
            # and its skinny (bucket, id) + vector frames persisted —
            # exactly ONCE per ingest instead of per micro-batch (r12
            # ADVICE: the per-batch rebuild was several redundant Spark
            # jobs on the hot path)
            if self._decontam_index is None:
                eval_df = spark.read.parquet(self.decontam_eval_path)
                self._decontam_n_eval = eval_df.count()
                idx = build_decontam_index(
                    eval_df,
                    self._decontam_n_eval,
                    min_cos=self.decontam_min_cos,
                    min_recall=self.decontam_min_recall,
                    id_col=self.id_col,
                )
                self._decontam_index = idx._replace(
                    buckets=idx.buckets.persist(),
                    vectors=idx.vectors.persist(),
                )
            batch = ann_filter(
                batch,
                self._decontam_index,
                id_col=self.id_col,
                min_cos=self.decontam_min_cos,
            )
        batch = batch.persist()
        collapsed = self._collapse_exact_dups(batch)
        bidx = self._build(collapsed)
        # persist: the staged (buckets, vectors) feed the intra-batch
        # dedup, the store filter AND the store appends — without this
        # the plane-fold chain re-evaluates per stage (r16: it was the
        # dominant per-batch cost).  Lineage reads only the batch source
        # (never the stores), so eviction-recompute stays crash-safe.
        bidx = bidx._replace(
            buckets=bidx.buckets.persist(), vectors=bidx.vectors.persist()
        )
        try:
            # intra-batch dedup runs FIRST, on the full admitted batch —
            # running it after the store filter would exempt rows whose
            # similar lower-id sibling was store-rejected, breaking the
            # "similar to ANY lower-id batch row" contract (r7 review)
            deduped = self._intra_batch_dedup(collapsed, bidx)
            if store_exists(spark, self.buckets_path):
                from kafka_streams_dead_letter_publishing_spark.operators.ann_filter import (
                    ann_reject_ids,
                )

                index = AnnIndex(
                    buckets=drop_hot_keys(
                        spark.read.parquet(self.buckets_path), self.max_occupancy
                    ),
                    vectors=spark.read.parquet(self.vectors_path),
                    n_tables=self.n_tables,
                    planes_per_table=self.planes_per_table,
                )
                # rejects over the WHOLE staged batch index — a superset
                # of deduped, so the anti-join yields exactly
                # ann_filter(deduped, index) with no chain re-evaluation
                rejects = ann_reject_ids(bidx, index, self.min_cos)
                kept = deduped.join(
                    rejects.withColumnRenamed("vec_id", self.id_col),
                    self.id_col,
                    "left_anti",
                )
            else:
                kept = deduped
            # localCheckpoint (eager), NOT persist: the appends below write
            # to paths that kept's LINEAGE reads (ann_filter scans the
            # bucket/vector stores) — a cache miss during a later append
            # would recompute kept against the files the earlier appends
            # just added, and the batch's own rows would self-match and
            # vanish from the IVF index (observed).  Checkpointing
            # materializes kept and CUTS the lineage.
            kept = kept.localCheckpoint(eager=True)
            kept_refs = kept.select(F.col(self.id_col).alias("ref_id"))
            # Write order is the crash contract: payload stores first, the
            # KEY store (the existence gate + candidate side) LAST.  A
            # crash before the buckets append replays the batch with the
            # filter disengaged for these rows → duplicate appends
            # (at-least-once, readers dedup on id); a replay after it
            # self-matches and appends nothing.  WITHIN the payload tier
            # (ivf/moments/pq/vectors) the stores are mutually unordered —
            # any partial subset on crash replays to the same
            # at-least-once duplicates — so they run as CONCURRENT driver
            # jobs (r18, guide §2.6: each write's task tail left the
            # cores idle); only the gate append stays strictly after all
            # of them.
            payload_writes = [
                lambda: ivf_append(
                    kept, self.centroids_fixed, self.ivf_path, id_col=self.id_col
                ),
                # store appends reuse the staged batch index (semi-join to
                # the checkpointed keepers) — keys/norms are pure functions
                # of the embedding, so the values equal a rebuild over kept
                lambda: bidx.vectors.join(kept_refs, "ref_id", "left_semi")
                .write.mode("append")
                .parquet(self.vectors_path),
            ]
            if self.moments_store:
                from kafka_streams_dead_letter_publishing_spark.operators.pca import (
                    moments_append,
                )

                # payload-tier like ivf/pq: before the bucket gate, so a
                # crash replays with double-counted moments (the corpus
                # sink's at-least-once contract), never with accepted
                # vectors missing from the covariance
                payload_writes.append(
                    lambda: moments_append(kept, self.moments_path)
                )
            if self.pq_books is not None:
                from kafka_streams_dead_letter_publishing_spark.operators.pq import (
                    pq_append,
                )

                # payload store like ivf: before the bucket gate, so a
                # crash replays with duplicates (readers dedup on id),
                # never with rows missing from the PQ tier
                payload_writes.append(
                    lambda: pq_append(
                        kept, self.pq_books, self.pq_coarse, self.pq_path,
                        id_col=self.id_col,
                    )
                )
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                for fut in [pool.submit(w) for w in payload_writes]:
                    fut.result()  # surface the first failure; pool joins
            bidx.buckets.join(kept_refs, "ref_id", "left_semi").write.mode(
                "append"
            ).parquet(self.buckets_path)
        finally:
            batch.unpersist()
            bidx.buckets.unpersist()
            bidx.vectors.unpersist()
        self._maybe_auto_compact(spark)

    def compact(self, new_base_dir: str) -> "EmbeddingIngest":
        """Rewrite the append-accumulated stores into ``new_base_dir``
        (files-per-store collapses from files-per-batch back to shuffle
        partitions) and return a pipeline pointed there.  Like
        ``ivf_compact``: always a NEW path, swapped between runs — a
        concurrent reader of the old base_dir keeps a complete view."""
        spark = SparkSession.getActiveSession()
        assert spark is not None, "compact() needs an active SparkSession"
        # a restarted instance must fold from the newest complete
        # generation, not the stale base paths
        self._resume_generations(spark)
        spark.read.parquet(self.ivf_path).repartition("cluster").write.mode(
            "errorifexists"
        ).partitionBy("cluster").parquet(f"{new_base_dir}/ivf")
        spark.read.parquet(self.vectors_path).repartition("ref_id").write.mode(
            "errorifexists"
        ).parquet(f"{new_base_dir}/vectors")
        spark.read.parquet(self.buckets_path).repartition("bk").write.mode(
            "errorifexists"
        ).parquet(f"{new_base_dir}/buckets")
        if self.pq_books is not None and store_exists(spark, self.pq_path):
            spark.read.parquet(self.pq_path).repartition("cluster").write.mode(
                "errorifexists"
            ).partitionBy("cluster").parquet(f"{new_base_dir}/pqcodes")
        if self.moments_store and store_exists(spark, f"{self.moments_path}/stats"):
            from kafka_streams_dead_letter_publishing_spark.operators.pca import (
                moments_compact,
            )

            moments_compact(spark, self.moments_path, f"{new_base_dir}/moments")
        # hand-off: drop this instance's pinned decontam index before the
        # fresh pipeline takes over (it rebuilds lazily on first batch) —
        # otherwise every compaction cycle leaks two cached frames
        self.close()
        return EmbeddingIngest(
            new_base_dir,
            self.centroids_fixed,
            min_cos=self.min_cos,
            n_tables=self.n_tables,
            planes_per_table=self.planes_per_table,
            max_occupancy=self.max_occupancy,
            pq_books=self.pq_books,
            pq_coarse=self.pq_coarse,
            moments_store=self.moments_store,
            # every GATE must survive compaction (the r11 lang_model
            # regression class) — the compacted pipeline keeps pointing
            # at the same immutable benchmark
            decontam_eval_path=self.decontam_eval_path,
            decontam_min_cos=self.decontam_min_cos,
            decontam_min_recall=self.decontam_min_recall,
            id_col=self.id_col,
            auto_compact_files=self.auto_compact_files,
        )


class DocumentIngest:
    """foreachBatch body: batch → [optional quality filter] → reject
    Jaccard near-dups of accepted docs → intra-batch dedup → append
    survivors to the corpus sink and the (bands, shingles) stores the
    next batch dedups against.

    ``quality_filter=True`` additionally rejects documents failing the
    Gopher repetition rules (``functions.quality.gopher_repetition_keep``,
    published default thresholds) BEFORE dedup — the composed
    clean-then-dedup shape of a production corpus pipeline; rejected docs
    never enter the stores, so they also never suppress a later clean
    near-dup of themselves.

    ``pii_redact=True`` scrubs emails/IPv4 literals (``functions.text.
    redact_pii``) FIRST, before every other stage — so the quality rules,
    the shingle stores, and the corpus sink all see only redacted text
    (raw PII never lands on disk), and two documents differing only in
    contact details dedup as the duplicates they are.

    ``line_dedup=True`` adds C4/RefinedWeb-style corpus-global LINE
    dedup after the scrub: every non-blank line already present in the
    ACCEPTED corpus (or appearing earlier in this batch) is removed and
    the document rebuilt from its surviving lines before quality/dedup
    see it.  The line-fingerprint store records exactly the corpus's
    lines (fps of accepted docs only) and is written LAST — a crash
    before that append replays with the line filter under-engaged
    (duplicate boilerplate survives until the next occurrence; safe
    direction), never with documents emptied and lost.  Chain over-drop
    trade (same class as the near-dup one-join rule): if two batch docs
    share a line and the first is later quality-rejected, the line is
    gone from both.

    ``decontam_fps_path`` (optional) points at a parquet of eval-set gram
    fingerprints (``operators.decontaminate.eval_gram_fps`` output,
    persisted once — the benchmark is static, so it is NOT re-shingled per
    micro-batch): any batch doc sharing a ``decontam_k``-gram with the
    eval set is rejected before dedup and never enters the corpus or the
    stores.  The fingerprint frame is benchmark-sized and broadcast.

    ``lang_model`` (optional, an ``operators.nbayes.NbModel``) adds the
    CCNet-style language gate: each batch doc is classified with the
    broadcast exact-integer NB model and rejected unless the predicted
    class is in ``lang_keep`` — BEFORE dedup, same ordering contract as
    the quality filter (a wrong-language doc must not enter the stores,
    where it would suppress a later in-language near-dup of itself).
    The model is trained once offline (``nb_train``) — it is static
    across batches, like the decontam fingerprint store.

    ``bm25_store=True`` keeps a servable BM25 postings index in lockstep
    with the accepted corpus (``operators.bm25.bm25_append`` — the text
    twin of EmbeddingIngest's ivf/pq stores): each batch's survivors are
    appended right after the corpus sink, so retrieval over the growing
    corpus never needs a rebuild.  Same at-least-once caveat as the
    corpus sink on a crash-and-replay (duplicate doc postings inflate
    df/N until a reader-side dedup or rebuild); a crash INSIDE the
    append is invisible to serving (epoch gate, see bm25_append)."""

    def __init__(
        self,
        base_dir: str,
        threshold_pct: int = 60,
        max_occupancy: int | None = None,
        quality_filter: bool = False,
        pii_redact: bool = False,
        line_dedup: bool = False,
        decontam_fps_path: str | None = None,
        decontam_k: int = 5,
        lang_model=None,
        lang_keep: tuple[str, ...] = ("en",),
        bm25_store: bool = False,
        id_col: str = "doc_id",
        text_col: str = "text",
        hash_family: str = "fast",
        fan_out_partitions: int | None = None,
        auto_compact_files: int | None = None,
    ) -> None:
        self.base_dir = base_dir
        self.bands_path = f"{base_dir}/bands"
        self.shingles_path = f"{base_dir}/shingles"
        self.corpus_path = f"{base_dir}/corpus"
        self.lines_path = f"{base_dir}/lines"
        self.bm25_path = f"{base_dir}/bm25"
        #: automated GATE-store compaction cadence (r17 — the MediaIngest
        #: auto_compact_files pattern applied to the near-dup stores):
        #: every accepted batch appends a small file-set to bands/shingles
        #: (and lines when line_dedup), and the store filter re-reads ALL
        #: of them each micro-batch — without a cadence a long-lived
        #: stream makes the gate read O(batches), the exact listing-cost
        #: curve probe_store_growth measured before MediaIngest got its
        #: knob.  When the bands store's data-file count exceeds this,
        #: process_batch folds bands/shingles/lines into a new
        #: ``nd-gen{g}`` generation dir (the generation contract of
        #: operators/stores.py; the corpus sink and bm25 store are never
        #: rewritten).
        self.auto_compact_files = auto_compact_files
        self._gen = 0
        self._resumed = False
        self.bm25_store = bm25_store
        self.threshold_pct = threshold_pct
        self.max_occupancy = max_occupancy
        self.quality_filter = quality_filter
        self.pii_redact = pii_redact
        self.line_dedup = line_dedup
        self.decontam_fps_path = decontam_fps_path
        self.decontam_k = decontam_k
        self.lang_model = lang_model
        self.lang_keep = lang_keep
        self.id_col = id_col
        self.text_col = text_col
        #: minhash family for every banding this pipeline does (intra-batch
        #: AND store filter — one family end-to-end or the store join would
        #: silently miss every collision): "fast" = xxhash64 longs (the
        #: production default), "md5" = the DuckDB-replayable registry
        #: family the docs_doc_ingest_streamed oracle drives
        self.hash_family = hash_family
        #: repartition each micro-batch before the tokenize/minhash chain:
        #: a 1-file micro-batch scan is ONE partition and the interpreted
        #: higher-order-function chain inherits it (the MediaIngest r15
        #: fan-out lesson); None = leave the source partitioning alone
        self.fan_out_partitions = fan_out_partitions

    def _line_fps(self, docs: DataFrame) -> DataFrame:
        """md5 fingerprints of the distinct non-blank lines of ``docs``."""
        return (
            docs.select(
                F.explode(F.split(F.col(self.text_col), "\n")).alias("_ln")
            )
            .filter(F.length(F.trim("_ln")) > 0)
            .select(F.md5("_ln").alias("line_fp"))
            .distinct()
        )

    def _apply_line_dedup(self, batch: DataFrame, spark: SparkSession) -> DataFrame:
        """Remove every non-blank line already in the accepted corpus or
        appearing earlier in this batch (first (id, position) wins), and
        rebuild each document's text from its surviving lines.  A doc
        whose every line is removed rebuilds to '' and dies at the
        shingle admission gate.

        De-skewed r8: first-occurrence comes from the shared
        ``corpus_line_first_occurrence`` partial-agg plan (blank lines
        never shuffle; hot boilerplate fingerprints collapse map-side)
        instead of a per-fingerprint window — within one micro-batch the
        skew is bounded by batch size, but the plan is the same one the
        batch operator runs at corpus scale."""
        from kafka_streams_dead_letter_publishing_spark.operators.lines import (
            corpus_line_first_occurrence,
        )

        lines = (
            batch.select(
                self.id_col,
                F.posexplode(F.split(F.col(self.text_col), "\n")).alias(
                    "_pos", "_ln"
                ),
            )
            .withColumn("_fp", F.md5("_ln"))
            .withColumn("_blank", F.length(F.trim("_ln")) == 0)
        )
        seen = (
            spark.read.parquet(self.lines_path).select("line_fp")
            if store_exists(spark, self.lines_path)
            else None
        )
        flagged = corpus_line_first_occurrence(
            lines,
            line_col="_fp",
            id_col=self.id_col,
            pos_col="_pos",
            blank_col="_blank",
            seen=seen,
            keep_col="_keep",
        )
        rebuilt = (
            flagged.filter(F.col("_keep"))
            .groupBy(self.id_col)
            .agg(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_pos", "_ln"))),
                        lambda x: x["_ln"],
                    ),
                ).alias("_new_text")
            )
        )
        return (
            batch.drop(self.text_col)
            .join(rebuilt, self.id_col, "left")
            .withColumn(self.text_col, F.coalesce("_new_text", F.lit("")))
            .drop("_new_text")
        )

    def _build(self, df: DataFrame) -> NeardupIndex:
        return build_neardup_index(
            df,
            id_col=self.id_col,
            text_col=self.text_col,
            hash_family=self.hash_family,
        )

    def _collapse_exact_dups(self, batch: DataFrame) -> DataFrame:
        """Flood guard: collapse rows with identical NORMALIZED text to
        the lowest id before the near-dup join (see EmbeddingIngest)."""
        from pyspark.sql import Window

        from kafka_streams_dead_letter_publishing_spark.functions.text import (
            fingerprint,
        )

        w = Window.partitionBy(fingerprint(F.col(self.text_col))).orderBy(
            F.asc(self.id_col)
        )
        return (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _intra_batch_dedup(self, batch: DataFrame, idx: NeardupIndex) -> DataFrame:
        """One-join drop rule over the PREBUILT batch index (r16: the
        tokenize→shingle→minhash chain is staged once per micro-batch
        and shared with the store filter and the store appends — it was
        the dominant per-batch cost when evaluated per stage)."""
        capped = drop_hot_keys(idx.bands, self.max_occupancy)
        cands = (
            capped.alias("a")
            .join(capped.alias("b"), "bk")
            .filter(F.col("a.ref_id") < F.col("b.ref_id"))
            .select(F.col("a.ref_id").alias("da"), F.col("b.ref_id").alias("db"))
            .distinct()
        )
        a = idx.shingles.select(F.col("ref_id").alias("da"), F.col("ref_sh").alias("sha"))
        b = idx.shingles.select(F.col("ref_id").alias("db"), F.col("ref_sh").alias("shb"))
        n_common = F.size(F.array_intersect("sha", "shb"))
        drop = (
            cands.join(a, "da")
            .join(b, "db")
            .select(
                "db",
                n_common.alias("nc"),
                (F.size("sha") + F.size("shb")).alias("nab"),
            )
            .filter(
                F.col("nc") * 100 >= (F.col("nab") - F.col("nc")) * self.threshold_pct
            )
            .select("db")
            .distinct()
            .withColumnRenamed("db", self.id_col)
        )
        return batch.join(drop, self.id_col, "left_anti")

    def _resume_generations(self, spark: SparkSession) -> None:
        """Repoint each gate store at its newest COMPLETE nd-gen{g} after
        a driver restart (operators/stores.py) — content is identical
        across generations, so mixed per-store repoints never change
        decisions."""
        if self._resumed:
            return
        self._resumed = True
        stores = ("bands", "shingles") + (("lines",) if self.line_dedup else ())
        self._gen, found = resume_generations(spark, self.base_dir, "nd", stores)
        for store, path in found.items():
            setattr(self, f"{store}_path", path)

    def _maybe_auto_compact(self, spark: SparkSession) -> None:
        """Fold the gate stores into a fresh generation dir once the bands
        store's data-file count passes the cadence.  DISTINCT folds: the
        appends are at-least-once under crash-replay, and every store's
        rows are pure functions of accepted text, so collapsing exact
        duplicate rows never changes a decision.  Write order: shingles
        and lines first, bands LAST — each store repoints only after its
        own _SUCCESS lands, and bands (the candidate side + existence
        gate) flipping over is what retires the old generation."""
        if (
            self.auto_compact_files is None
            or data_file_count(spark, self.bands_path) <= self.auto_compact_files
        ):
            return
        self._gen, gen_dir = allocate_generation(spark, self.base_dir, "nd", self._gen)
        spark.read.parquet(self.shingles_path).distinct().repartition(
            "ref_id"
        ).write.mode("errorifexists").parquet(f"{gen_dir}/shingles")
        self.shingles_path = f"{gen_dir}/shingles"
        if self.line_dedup and store_exists(spark, self.lines_path):
            spark.read.parquet(self.lines_path).distinct().repartition(
                "line_fp"
            ).write.mode("errorifexists").parquet(f"{gen_dir}/lines")
            self.lines_path = f"{gen_dir}/lines"
        spark.read.parquet(self.bands_path).distinct().repartition(
            "bk"
        ).write.mode("errorifexists").parquet(f"{gen_dir}/bands")
        self.bands_path = f"{gen_dir}/bands"

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from kafka_streams_dead_letter_publishing_spark.functions.text import (
            norm_text,
            shingles,
            tokens,
        )

        spark = batch.sparkSession
        self._resume_generations(spark)
        if self.fan_out_partitions:
            batch = batch.repartition(self.fan_out_partitions)
        if self.pii_redact:
            from kafka_streams_dead_letter_publishing_spark.functions.text import (
                redact_pii,
            )

            # FIRST stage: every downstream consumer (quality rules,
            # shingle/band stores, corpus sink) sees only redacted text,
            # so raw PII never lands on disk and contact-detail-only
            # variants dedup as duplicates
            batch = batch.withColumn(self.text_col, redact_pii(F.col(self.text_col)))
        if self.line_dedup:
            batch = self._apply_line_dedup(batch, spark)
        # admission: a document must have at least one shingle (≥ 3
        # tokens) — sub-shingle docs collide with nothing, so they could
        # never be deduped, would be re-appended on every checkpoint
        # replay (breaking the idempotent-replay contract), and are
        # refused here instead; compose an exact-fingerprint dedup stage
        # upstream if short documents must be kept
        # Tokenize ONCE behind a persist BARRIER: a plain withColumn
        # staging is defeated by predicate pushdown, which substitutes the
        # tokenize chain into the filter predicates — inside the quality
        # folds' higher-order lambdas that chain re-evaluates per gram
        # position (the ~10× pathology the ngrams/shingles docstrings
        # document; confirmed in the optimized plan).  Filters cannot push
        # below an InMemoryRelation, so both admission and quality read
        # the materialized _toks column.
        staged = batch.withColumn(
            "_toks", tokens(norm_text(F.col(self.text_col)))
        ).persist()
        admitted = staged.filter(F.size(shingles(F.col("_toks"))) > 0)
        if self.quality_filter:
            from kafka_streams_dead_letter_publishing_spark.functions.quality import (
                gopher_repetition_keep,
            )

            admitted = admitted.filter(
                gopher_repetition_keep(F.col(self.text_col), F.col("_toks"))
            )
        batch = admitted.drop("_toks")
        if self.lang_model is not None:
            from kafka_streams_dead_letter_publishing_spark.operators.nbayes import (
                nb_classify,
            )

            # language gate BEFORE dedup (the quality-filter ordering
            # contract): a wrong-language doc never enters the stores.
            # nb_classify is a broadcast-model aggregate; the semi-join
            # back keys on the unique doc id.
            keep = nb_classify(
                batch, self.lang_model, text_col=self.text_col,
                id_col=self.id_col,
            ).filter(F.col("pred").isin(*self.lang_keep)).select(self.id_col)
            batch = batch.join(keep, self.id_col, "left_semi")
        if self.decontam_fps_path is not None:
            # FAIL CLOSED: unlike the self-growing line-fp store (which is
            # legitimately absent before the first batch), the eval fp
            # store is external and static — absence is always a
            # misconfiguration, and skipping the stage silently would let
            # contaminated docs into the corpus AND the dedup stores
            if not store_exists(spark, self.decontam_fps_path):
                raise ValueError(
                    f"decontam_fps_path {self.decontam_fps_path!r} does not "
                    "exist — write it with operators.decontaminate."
                    "eval_gram_fps(...).write.parquet(...) before starting "
                    "the ingest"
                )
            from kafka_streams_dead_letter_publishing_spark.operators.decontaminate import (
                decontaminate_by_fps,
            )

            # eval-overlap rejection BEFORE dedup: a contaminated doc must
            # not enter the stores either (it would otherwise suppress a
            # later clean near-dup of itself — same ordering contract as
            # the quality filter)
            batch = decontaminate_by_fps(
                batch,
                spark.read.parquet(self.decontam_fps_path),
                id_col=self.id_col,
                text_col=self.text_col,
                k=self.decontam_k,
            )
        collapsed = self._collapse_exact_dups(batch)
        bidx = self._build(collapsed)
        # persist: the staged (bands, shingles) feed the intra-batch
        # dedup, the store filter AND the store appends — without this
        # the minhash chain re-evaluates per stage (r16: measured as the
        # dominant per-batch cost).  Lineage reads only the batch source
        # (never the stores), so eviction-recompute stays crash-safe.
        bidx = bidx._replace(
            bands=bidx.bands.persist(), shingles=bidx.shingles.persist()
        )
        try:
            # intra-batch dedup FIRST, store filter second — same
            # contract-ordering reason as EmbeddingIngest
            deduped = self._intra_batch_dedup(collapsed, bidx)
            if store_exists(spark, self.bands_path):
                from kafka_streams_dead_letter_publishing_spark.operators.neardup_filter import (
                    neardup_reject_ids,
                    validate_bands_store_family,
                )

                bands_store = spark.read.parquet(self.bands_path)
                # the store's bk dtype is its durable family marker — a
                # restart configured with the other family would stamp the
                # index below with the wrong family and the band join
                # would silently match nothing (duplicates admitted)
                validate_bands_store_family(bands_store, self.hash_family)
                index = NeardupIndex(
                    bands=drop_hot_keys(bands_store, self.max_occupancy),
                    shingles=spark.read.parquet(self.shingles_path),
                    hash_family=self.hash_family,
                )
                # rejects computed over the WHOLE staged batch index — a
                # superset of deduped, so the anti-join below yields
                # exactly neardup_filter(deduped, index) without
                # re-running the chain on the deduped subset
                rejects = neardup_reject_ids(bidx, index, self.threshold_pct)
                kept = deduped.join(
                    rejects.withColumnRenamed("doc_id", self.id_col),
                    self.id_col,
                    "left_anti",
                )
            else:
                kept = deduped
            # eager localCheckpoint + payload-first/gate-last write order:
            # same crash and lineage contracts as EmbeddingIngest
            kept = kept.localCheckpoint(eager=True)
            kept_refs = kept.select(F.col(self.id_col).alias("ref_id"))
            kept.write.mode("append").parquet(self.corpus_path)
            if self.bm25_store:
                from kafka_streams_dead_letter_publishing_spark.operators.bm25 import (
                    bm25_append,
                )

                # right after the corpus sink: the searchable index never
                # references a doc the corpus lacks; a crash between the
                # two replays with duplicates in both (the corpus sink's
                # at-least-once contract), a crash inside the append is
                # invisible to serving (epoch gate)
                bm25_append(
                    kept, self.bm25_path,
                    text_col=self.text_col, id_col=self.id_col,
                )
            # store appends reuse the staged batch index (semi-join to the
            # checkpointed keepers) — shingles/bands are pure functions of
            # text, so the values equal a rebuild over kept exactly
            bidx.shingles.join(kept_refs, "ref_id", "left_semi").write.mode(
                "append"
            ).parquet(self.shingles_path)
            bidx.bands.join(kept_refs, "ref_id", "left_semi").write.mode(
                "append"
            ).parquet(self.bands_path)
            if self.line_dedup:
                # fps of the ACCEPTED docs' lines only (the store mirrors
                # the corpus's lines), appended after every other store:
                # a crash before this append replays with the line filter
                # under-engaged (safe), never with documents emptied
                self._line_fps(kept).write.mode("append").parquet(self.lines_path)
        finally:
            staged.unpersist()
            bidx.bands.unpersist()
            bidx.shingles.unpersist()
        self._maybe_auto_compact(spark)

    def compact(self, new_base_dir: str) -> "DocumentIngest":
        """See :meth:`EmbeddingIngest.compact`."""
        spark = SparkSession.getActiveSession()
        assert spark is not None, "compact() needs an active SparkSession"
        # a restarted instance must fold from the newest complete
        # generation, not the stale base paths
        self._resume_generations(spark)
        spark.read.parquet(self.corpus_path).repartition(self.id_col).write.mode(
            "errorifexists"
        ).parquet(f"{new_base_dir}/corpus")
        spark.read.parquet(self.shingles_path).repartition("ref_id").write.mode(
            "errorifexists"
        ).parquet(f"{new_base_dir}/shingles")
        spark.read.parquet(self.bands_path).repartition("bk").write.mode(
            "errorifexists"
        ).parquet(f"{new_base_dir}/bands")
        if self.line_dedup and store_exists(spark, self.lines_path):
            spark.read.parquet(self.lines_path).distinct().repartition(
                "line_fp"
            ).write.mode("errorifexists").parquet(f"{new_base_dir}/lines")
        if self.bm25_store and store_exists(spark, f"{self.bm25_path}/stats"):
            from kafka_streams_dead_letter_publishing_spark.operators.bm25 import (
                bm25_compact,
            )

            bm25_compact(spark, self.bm25_path, f"{new_base_dir}/bm25")
        return DocumentIngest(
            new_base_dir,
            threshold_pct=self.threshold_pct,
            max_occupancy=self.max_occupancy,
            quality_filter=self.quality_filter,
            pii_redact=self.pii_redact,
            line_dedup=self.line_dedup,
            # the eval fp store is external and immutable — the compacted
            # pipeline keeps pointing at the same benchmark
            decontam_fps_path=self.decontam_fps_path,
            decontam_k=self.decontam_k,
            # every GATE must survive compaction: dropping lang_model here
            # silently fail-opened the language filter on the compacted
            # pipeline (found r11; regression-pinned)
            lang_model=self.lang_model,
            lang_keep=self.lang_keep,
            bm25_store=self.bm25_store,
            id_col=self.id_col,
            text_col=self.text_col,
            # the stores being compacted were banded with this family —
            # the successor must keep reading and appending the same one
            hash_family=self.hash_family,
            fan_out_partitions=self.fan_out_partitions,
            auto_compact_files=self.auto_compact_files,
        )


class EventIngest:
    """foreachBatch body for an EVENT stream: append the batch to the
    events sink and keep a lockstep KMV distinct sketch per
    ``group_col`` (``operators.kmv.kmv_append`` — the approx-distinct
    twin of DocumentIngest's BM25 store and EmbeddingIngest's moments
    store), so ``kmv_estimate`` answers "distinct users per event type
    so far" at any point with zero re-scans of the event history.

    Write order: events sink FIRST, sketch LAST — a crash between the
    two replays the batch with the sketch under-engaged until the
    retry, and KMV is the one store where at-least-once replay needs NO
    compensation at all (the sketch is a SET: duplicate keys vanish in
    the union-retake merge).  A crash INSIDE kmv_append is invisible to
    readers (epoch-SET gate)."""

    def __init__(
        self,
        base_dir: str,
        group_col: str = "event_type",
        key_col: str = "user_id",
        k: int = 64,
        cms_store: bool = False,
        hist_store: bool = False,
        hist_value_col: str = "value",
        auto_compact_epochs: int | None = None,
    ) -> None:
        self.base_dir = base_dir
        self.events_path = f"{base_dir}/events"
        self.kmv_path = f"{base_dir}/kmv"
        self.cms_path = f"{base_dir}/cms"
        self.hist_path = f"{base_dir}/hist"
        self.group_col = group_col
        self.key_col = key_col
        self.k = k
        self.cms_store = cms_store
        self.hist_store = hist_store
        self.hist_value_col = hist_value_col
        #: automated compaction cadence (r13 verdict #4): every append adds
        #: an epoch row-set to each sketch store, and a reader re-merges
        #: ALL of them — without a cadence a long-lived stream makes reads
        #: O(batches), not O(sketch).  When set, process_batch folds the
        #: sketch stores to one epoch at a new ``sketch-gen{g}`` dir once
        #: the epoch count exceeds this (the generation contract of
        #: operators/stores.py; the events SINK is never rewritten, only
        #: sketches).
        self.auto_compact_epochs = auto_compact_epochs
        self._sketch_gen = 0
        #: approximate completed-epoch count, maintained from kmv_append's
        #: return value (epoch numbers are dense except for crash
        #: orphans, which only make this OVER-count — compacting early is
        #: harmless) so the cadence check costs no per-batch Spark job
        #: (r14 review); None until the first append or restart probe
        self._n_epochs: int | None = None
        self._resumed = False

    def _resume_generations(self) -> None:
        """Repoint each sketch store at its newest COMPLETE sketch-gen{g}
        after a driver restart (operators/stores.py) — a store's fold is
        complete when its stats dir, written last, holds _SUCCESS."""
        if self._resumed:
            return
        self._resumed = True
        spark = SparkSession.getActiveSession()
        if spark is None:
            return
        stores = ("kmv",) + (("cms",) if self.cms_store else ())
        stores += ("hist",) if self.hist_store else ()
        self._sketch_gen, found = resume_generations(
            spark, self.base_dir, "sketch", stores, marker="stats/_SUCCESS"
        )
        for store, path in found.items():
            setattr(self, f"{store}_path", path)

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        from kafka_streams_dead_letter_publishing_spark.operators.kmv import kmv_append

        self._resume_generations()
        batch = batch.localCheckpoint(eager=True)
        batch.write.mode("append").parquet(self.events_path)
        epoch = kmv_append(
            batch, self.kmv_path, self.group_col, self.key_col, self.k
        )
        self._n_epochs = epoch + 1
        if self.cms_store:
            from kafka_streams_dead_letter_publishing_spark.operators.cms import (
                cms_append,
            )

            # lockstep heavy-hitter sketch over the key column — the
            # bm25/moments at-least-once caveat applies (a replayed
            # batch double-counts; KMV above is replay-immune)
            cms_append(batch, self.cms_path, self.key_col)
        if self.hist_store:
            from kafka_streams_dead_letter_publishing_spark.operators.hist import (
                hist_append,
            )

            # lockstep quantile sketch over the value column (r13 — the
            # same at-least-once caveat as CMS: counts double on replay)
            hist_append(
                batch, self.hist_path, self.group_col, self.hist_value_col
            )
        self._maybe_auto_compact()

    def _maybe_auto_compact(self) -> None:
        """Fold the sketch stores to one epoch once the epoch count passes
        the cadence.  The gauge is the in-memory count maintained from
        kmv_append's return value (no per-batch Spark job — r14 review;
        crash orphans can only make it over-count, which compacts early
        and harmlessly).  All lockstep stores compact together — their
        epoch counts advance in lockstep."""
        if self.auto_compact_epochs is None:
            return
        from kafka_streams_dead_letter_publishing_spark.operators.kmv import (
            kmv_compact,
        )

        spark = SparkSession.getActiveSession()
        assert spark is not None, "auto-compact needs an active SparkSession"
        if not store_exists(spark, f"{self.kmv_path}/stats"):
            return
        if self._n_epochs is None or self._n_epochs <= self.auto_compact_epochs:
            return
        self._sketch_gen, gen = allocate_generation(
            spark, self.base_dir, "sketch", self._sketch_gen
        )
        kmv_compact(spark, self.kmv_path, f"{gen}/kmv", self.k)
        self.kmv_path = f"{gen}/kmv"
        if self.cms_store and store_exists(spark, f"{self.cms_path}/stats"):
            from kafka_streams_dead_letter_publishing_spark.operators.cms import (
                cms_compact,
            )

            cms_compact(spark, self.cms_path, f"{gen}/cms")
            self.cms_path = f"{gen}/cms"
        if self.hist_store and store_exists(spark, f"{self.hist_path}/stats"):
            from kafka_streams_dead_letter_publishing_spark.operators.hist import (
                hist_compact,
            )

            hist_compact(spark, self.hist_path, f"{gen}/hist")
            self.hist_path = f"{gen}/hist"
        self._n_epochs = 1  # the fold leaves exactly epoch 0

    def estimates(self) -> DataFrame:
        from kafka_streams_dead_letter_publishing_spark.operators.kmv import kmv_estimate

        spark = SparkSession.getActiveSession()
        assert spark is not None, "estimates() needs an active SparkSession"
        self._resume_generations()
        return kmv_estimate(spark, self.kmv_path, self.k)

    def compact(self, new_base_dir: str) -> "EventIngest":
        """See :meth:`EmbeddingIngest.compact` — same NEW-path swap."""
        from kafka_streams_dead_letter_publishing_spark.operators.kmv import kmv_compact

        spark = SparkSession.getActiveSession()
        assert spark is not None, "compact() needs an active SparkSession"
        # every path is store_exists-guarded (r12 ADVICE): an ingest that
        # only ever processed empty batches compacts to a no-op instead of
        # raising on the first missing store
        if store_exists(spark, self.events_path):
            spark.read.parquet(self.events_path).repartition(
                self.group_col
            ).write.mode("errorifexists").parquet(f"{new_base_dir}/events")
        if store_exists(spark, f"{self.kmv_path}/stats"):
            kmv_compact(spark, self.kmv_path, f"{new_base_dir}/kmv", self.k)
        if self.cms_store:
            from kafka_streams_dead_letter_publishing_spark.operators.cms import (
                cms_compact,
            )

            if store_exists(spark, f"{self.cms_path}/stats"):
                cms_compact(spark, self.cms_path, f"{new_base_dir}/cms")
        if self.hist_store:
            from kafka_streams_dead_letter_publishing_spark.operators.hist import (
                hist_compact,
            )

            if store_exists(spark, f"{self.hist_path}/stats"):
                hist_compact(spark, self.hist_path, f"{new_base_dir}/hist")
        return EventIngest(
            new_base_dir,
            group_col=self.group_col,
            key_col=self.key_col,
            k=self.k,
            cms_store=self.cms_store,
            hist_store=self.hist_store,
            hist_value_col=self.hist_value_col,
            auto_compact_epochs=self.auto_compact_epochs,
        )


class MediaIngest:
    """foreachBatch body for BINARY media columns: batch (id, payload) →
    dHash (``functions.multimodal.with_dhash`` — pure Catalyst
    expressions, no Python) → reject rows whose perceptual hash is
    already in the accepted store → intra-batch dedup (lowest id per
    hash) → append survivors to the media sink and their hashes to the
    dhash store LAST.

    The multimodal twin of :class:`DocumentIngest`'s exact-dup collapse:
    every image-dedup pipeline buckets on an exact perceptual hash
    before anything fuzzier, and the EXACT-hash gate is the part whose
    banding can never degenerate (it is an equi-join on the full 64-bit
    hash, uniform by construction for real media).  Near-dup Hamming
    rejection is deliberately NOT a store gate here: the banded pair
    search's cost contract depends on band distribution
    (tools/probe_dhash.py measures the text-payload failure mode), so
    fuzzy image dedup stays a batch-mode operation
    (``dhash_near_pairs``) over a materialized hash table where the
    operator's cost is observable — not buried in an ingest loop.

    Crash contract (the DocumentIngest ordering): sink first, hash
    store LAST — a crash between the two replays with at-least-once
    duplicates in the sink (safe direction; the store gate converges),
    and a replay after a COMPLETE commit self-matches to a no-op
    (every batch hash is in the store, the anti-join rejects all).

    r15 ``auto_compact_files=K``: the gate store otherwise grows one
    small file set per batch and the anti-join re-reads ALL of them —
    the cadence folds the distinct hashes into ``dhash-gen{g}``
    generation dirs (the generation contract of operators/stores.py;
    the media sink is never rewritten).

    Scale shape per batch: the hash chain is narrow JVM expressions;
    the store gate is one equi-join on (dhash_hi, dhash_lo) — uniform
    64-bit keys, no skew; the hash table is localCheckpoint-materialized
    (the staged-lambda join contract documented on with_dhash)."""

    def __init__(
        self,
        base_dir: str,
        id_col: str = "doc_id",
        payload_col: str = "payload",
        fan_out_partitions: int | None = None,
        auto_compact_files: int | None = None,
    ) -> None:
        self.base_dir = base_dir
        self.sink_path = f"{base_dir}/media"
        self.dhash_path = f"{base_dir}/dhash"
        self.id_col = id_col
        self.payload_col = payload_col
        #: automated store-compaction cadence (r15 — the EventIngest
        #: auto_compact_epochs pattern applied to the dhash GATE store):
        #: every batch appends small files and the anti-join re-reads ALL
        #: of them, so a long-lived stream makes the gate read O(batches).
        #: When the store's data-file count exceeds this, process_batch
        #: folds the DISTINCT hashes into a new generation dir
        #: (dhash-gen{g}) and repoints.  The gauge is a driver-side Hadoop
        #: listing (metadata-only, no Spark job).
        self.auto_compact_files = auto_compact_files
        self._gen = 0
        self._resumed = False
        #: file-source micro-batches arrive with the SOURCE FILE's
        #: partitioning (often 1) and the narrow hash chain inherits it;
        #: set this to spread the per-batch dHash work (r15 — measured
        #: ~6 s/batch single-core at 5k docs).  Kafka sources inherit
        #: topic partitions and normally don't need it.
        self.fan_out_partitions = fan_out_partitions

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from kafka_streams_dead_letter_publishing_spark.functions.multimodal import (
            with_dhash,
        )

        spark = batch_df.sparkSession
        self._resume_generations(spark)
        if self.fan_out_partitions:
            batch_df = batch_df.repartition(self.fan_out_partitions)
        # NULL payloads are refused up front: they hash to NULL, and a
        # NULL join key never matches the store's anti-join (NULL !=
        # NULL), so every later NULL payload would be accepted forever —
        # the zero-norm-vector admission rule's media twin
        h = (
            with_dhash(
                batch_df.filter(F.col(self.payload_col).isNotNull()),
                self.payload_col,
            )
            .select(self.id_col, self.payload_col, "dhash_hi", "dhash_lo")
            .localCheckpoint(eager=True)
        )
        if store_exists(spark, self.dhash_path):
            seen = spark.read.parquet(self.dhash_path).select(
                "dhash_hi", "dhash_lo"
            )
            h = h.join(seen, ["dhash_hi", "dhash_lo"], "left_anti")
        # intra-batch: lowest id per hash survives (deterministic pick-first)
        first = h.groupBy("dhash_hi", "dhash_lo").agg(
            F.min(self.id_col).alias(self.id_col)
        )
        # the keeper DECISION is stabilized as keys only (r18): h is
        # computed post-gate, so `first` IS the keeper set — checkpointing
        # it pins both writes below to one consistent batch outcome while
        # the payload bytes stay in the staged-batch checkpoint and move
        # exactly once, into the sink write (previously the payload rows
        # were re-materialized by a second full localCheckpoint)
        kept_keys = first.localCheckpoint(eager=True)
        kept = h.join(kept_keys, ["dhash_hi", "dhash_lo", self.id_col])
        kept.write.mode("append").parquet(self.sink_path)
        # hash store LAST (the gate): a crash before this point replays
        # to at-least-once sink duplicates, never to lost media
        kept_keys.select("dhash_hi", "dhash_lo").distinct().write.mode(
            "append"
        ).parquet(self.dhash_path)
        self._maybe_auto_compact(spark)

    def _resume_generations(self, spark: SparkSession) -> None:
        """Repoint at the newest COMPLETE dhash-gen{g} after a driver
        restart (operators/stores.py; the generation dir IS the store)."""
        if self._resumed:
            return
        self._resumed = True
        self._gen, found = resume_generations(spark, self.base_dir, "dhash", ("",))
        self.dhash_path = found.get("", self.dhash_path)

    def _maybe_auto_compact(self, spark: SparkSession) -> None:
        if (
            self.auto_compact_files is None
            or data_file_count(spark, self.dhash_path) <= self.auto_compact_files
        ):
            return
        self._gen, new_path = allocate_generation(
            spark, self.base_dir, "dhash", self._gen
        )
        spark.read.parquet(self.dhash_path).distinct().repartition(
            "dhash_hi"
        ).write.mode("errorifexists").parquet(new_path)
        self.dhash_path = new_path

    def compact(self, new_base_dir: str) -> "MediaIngest":
        """Collapse per-batch small files into a fresh base dir (swap by
        repoint; see :meth:`EmbeddingIngest.compact`)."""
        spark = SparkSession.getActiveSession()
        assert spark is not None, "compact() needs an active SparkSession"
        spark.read.parquet(self.sink_path).repartition(self.id_col).write.mode(
            "errorifexists"
        ).parquet(f"{new_base_dir}/media")
        spark.read.parquet(self.dhash_path).distinct().repartition(
            "dhash_hi"
        ).write.mode("errorifexists").parquet(f"{new_base_dir}/dhash")
        return MediaIngest(
            new_base_dir,
            id_col=self.id_col,
            payload_col=self.payload_col,
            fan_out_partitions=self.fan_out_partitions,
            auto_compact_files=self.auto_compact_files,
        )
