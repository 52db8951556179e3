"""KMV (k-minimum-values) distinct sketch with a streamed store ([EXT]).

The one-shot estimator — Bar-Yossef et al. 2002: the K smallest md5
values of a key column are a deterministic SET, the estimate
``(K-1) * 2^52 DIV kth_min`` is exact integer arithmetic, and groups
below capacity report their exact distinct count — is driver-gated
through ``events_kmv_streamed_distinct`` (plans/relational.py; the
one-shot row ``events_kmv_distinct_users`` was retired r14 because the
streamed twin's oracle is its SQL verbatim) and set algebra over two
sketches through ``events_kmv_set_ops``.  This module adds the
STREAMED store the r11 verdict asked for (#4): per-batch sketches append
under the repo's epoch contract so approximate-distinct stays current on
a growing event stream with zero re-scans, exactly like the BM25
postings (operators/bm25.py) and PCA moments (operators/pca.py) stores.

Merge law (what makes streaming correct): the union of two KMV sketches,
deduplicated and cut back to its K smallest, IS the KMV sketch of the
union of their inputs — so per-batch local sketches are sufficient
partials, and the streamed read is bit-identical to a one-shot sketch of
everything appended (test-pinned).  Exactness below capacity survives
batching: a group's merged sketch holds fewer than K hashes only if no
batch ever truncated it, i.e. every distinct key's hash is present.

Commit: the epoch contract of operators/stores.py (partial table
``mins``).  Replay: re-sending the same keys is HARMLESS here, unlike
bm25/moments: the sketch is a set, duplicates vanish in the merge —
at-least-once delivery needs no reader-side compensation.

Scale shape: a batch sketch is one hash-shuffle (distinct) plus the
repo's two-phase top-K (partition-local window on (pid, group), global
rank over <= P*K survivors); the store grows by <= groups*K rows per
epoch — sketch metadata, never event data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.operators.stores import (
    allocate_epoch,
    commit_epoch,
    completed_epochs,
    read_completed,
)

KMV_K = 64
KMV_SCALE = 1 << 52  # 13 hex chars


def _k_smallest(h: DataFrame, k: int) -> DataFrame:
    """The k smallest (group, h) rows per group, two-phase: a
    partition-local window on (pid, group) cuts each physical partition
    to its own k smallest (any global minimum is necessarily a
    partition-local minimum), so the global rank runs over <= P*k
    survivors — sketch metadata, never data volume."""
    staged = h.withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("pid", "group").orderBy(F.asc("h"))
    local = (
        staged.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .drop("pid", "rn")
    )
    w_global = Window.partitionBy("group").orderBy(F.asc("h"))
    return (
        local.withColumn("rn", F.row_number().over(w_global))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_sketch(
    df: DataFrame, group_col: str, key_col: str, k: int = KMV_K
) -> DataFrame:
    """(group, h): the <= k smallest distinct 13-hex-char md5 values of
    ``key_col`` per ``group_col`` — fixed-width lowercase hex compares
    identically as a STRING in every engine, so the sketch itself is
    the cross-engine artifact.  Two-phase top-K: any global minimum is
    necessarily a partition-local minimum."""
    # NULL keys hash to NULL and are dropped — COUNT(DISTINCT key)
    # semantics (SQL distinct-count never counts NULL), and it removes a
    # latent cross-engine ordering divergence: Spark windows sort NULLs
    # FIRST, DuckDB's ROW_NUMBER sorts them LAST, so a NULL h surviving
    # into the top-K would shift kth/nh differently per engine
    h = (
        df.select(
            F.col(group_col).alias("group"),
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 13).alias("h"),
        )
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    return _k_smallest(h, k)


def kmv_append(
    batch_df: DataFrame,
    path: str,
    group_col: str,
    key_col: str,
    k: int = KMV_K,
) -> int:
    """Append one micro-batch's per-group KMV partials to the persisted
    store and advance the epoch (returned; unchanged for an empty
    batch).  Layout: ``{path}/mins`` (group, h, epoch) per-batch local
    sketches, ``{path}/stats`` one (epoch) row per completed append
    written LAST."""
    spark = batch_df.sparkSession
    ep = allocate_epoch(spark, path, ("mins",))
    # one materialization: the sketch is <= groups*k rows of metadata
    sk = kmv_sketch(batch_df, group_col, key_col, k).localCheckpoint(
        eager=True
    )
    if not sk.count():
        return ep.current
    commit_epoch(spark, path, ep.new, {"mins": sk})
    return ep.new


def kmv_read_mins(spark, path: str, k: int = KMV_K) -> DataFrame:
    """(group, h): the merged sketch over every COMPLETE epoch — union,
    dedup, retake the k smallest per group.  Bit-identical to
    ``kmv_sketch`` over everything appended (the KMV merge law,
    test-pinned)."""
    _, epochs = completed_epochs(spark, path, "kmv_read_mins")
    merged = read_completed(spark, path, "mins", epochs).select("group", "h")
    return _k_smallest(merged.distinct(), k)


def kmv_estimate(spark, path: str, k: int = KMV_K) -> DataFrame:
    """(group, nh, est): the distinct-count estimate from the streamed
    store — exact (= nh) below capacity, else the Bar-Yossef
    ``(k-1)*2^52 DIV kth`` exact-integer form shared with the oracled
    registry row."""
    mins = kmv_read_mins(spark, path, k)
    km = mins.groupBy("group").agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("nh")
    )
    # GREATEST(.., 1): an all-zero-hex kth (md5 prefix collision at
    # h='0'*13, astronomically unlikely but possible) must yield a huge
    # estimate, not NULL/divide-by-zero — the power-iteration rescale
    # convention (r12 ADVICE)
    est = F.when(F.col("nh") < k, F.col("nh")).otherwise(
        F.expr(
            f"({k - 1}L * {KMV_SCALE}L) DIV "
            "GREATEST(CAST(conv(kth, 16, 10) AS BIGINT), 1L)"
        )
    )
    return km.select(
        "group", F.col("nh").cast("long").alias("nh"),
        est.cast("long").alias("est"),
    )


def kmv_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    k: int = KMV_K,
    with_exact: bool = True,
) -> DataFrame:
    """Distinct-cardinality SET OPERATIONS from two KMV sketches — the
    theta-sketch trick (Beyer et al., SIGMOD 2007, "On Synopses for
    Distinct-Value Estimation Under Multiset Operations"): one row of
    exact-integer union / intersection estimates for the distinct
    ``key_col`` sets of ``df_a`` and ``df_b``.

    Why this is sound: the k smallest hashes of A ∪ B are exactly the k
    smallest of (mins(A) ∪ mins(B)) — a global minimum of the union is a
    minimum of one side — so the union sketch builds from the two side
    sketches alone.  And for every hash h retained by the union sketch
    (h <= kth_u), membership in the FULL set A is equivalent to
    membership in mins(A): kth_u <= kth_a whenever A is at capacity
    (the union's k-th smallest is drawn from a superset of mins(A)), so
    h <= kth_u <= kth_a puts any h ∈ A inside A's k smallest.  The
    retained hashes below kth_u are therefore a uniform sample of A ∪ B
    with EXACT membership flags, and

        est_union        = (k-1) * 2^52 DIV kth_u        (Bar-Yossef)
        est_intersection = n_both   * (est_union DIV k)  (Beyer Kε/K · Dᵤ)
        est_a_minus_b    = n_a_only * (est_union DIV k)  (same sample)
        est_b_minus_a    = n_b_only * (est_union DIV k)

    — the full set algebra (union / intersection / both differences),
    all integer arithmetic on deterministic hash SETS, which is what
    makes the estimator oracle-replayable when HLL/theta register
    layouts are not.  DIV-first in the sample-scaled estimates keeps
    the product inside BIGINT even for a degenerate all-zero-hex kth
    (the GREATEST(..,1) guard's companion).  Below union capacity
    (nu < k) every hash survived, so every set-op estimate is exact.

    Columns (one row, all BIGINT): exact_a, exact_b, exact_union,
    exact_intersection, exact_a_minus_b, exact_b_minus_a (truth over
    the real keys — the validation baseline you drop at 100 TB;
    ``with_exact=False`` skips that scan), nh_a, nh_b, est_a, est_b,
    n_both, est_union, est_intersection, est_a_minus_b, est_b_minus_a.

    Scale shape: each side sketch is one hash-shuffle (distinct) plus
    the two-phase k-smallest cut; everything after the side sketches is
    <= 2k metadata rows, and the final assembly is 1-row broadcast
    crossJoins."""
    tagged = df_a.select(
        F.lit("a").alias("group"), F.col(key_col).alias("key")
    ).unionByName(
        df_b.select(F.lit("b").alias("group"), F.col(key_col).alias("key"))
    )
    # r17 (guide §1.2): the side-sketch frame feeds the membership table
    # (itself consumed by the union cut AND the union stats) plus the
    # side stats — without a barrier each branch re-ran the full
    # scan + distinct + two-phase k-smallest cut (observed: the events
    # scan appeared 16x in the set-ops plan).  The persisted frame is
    # <= 2k metadata rows.
    mins = kmv_sketch(tagged, "group", "key", k).persist()
    # membership flags per retained hash: <= 2k metadata rows
    memb = mins.groupBy("h").agg(
        F.max(F.when(F.col("group") == "a", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("group") == "b", 1).otherwise(0)).alias("in_b"),
    )
    # union sketch: k smallest of the <= 2k distinct retained hashes
    u = _k_smallest(
        memb.select(F.lit("u").alias("group"), "h").distinct(), k
    )
    ustats = (
        u.join(memb, "h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nu"),
            F.max("h").alias("kth_u"),
            # COALESCE: a fully-empty input pair leaves SUM-over-nothing
            # NULL; these are counts and read 0
            F.coalesce(F.sum(F.col("in_a") * F.col("in_b")), F.lit(0))
            .cast("long")
            .alias("n_both"),
            F.coalesce(
                F.sum(F.col("in_a") * (1 - F.col("in_b"))), F.lit(0)
            )
            .cast("long")
            .alias("n_a_only"),
            F.coalesce(
                F.sum(F.col("in_b") * (1 - F.col("in_a"))), F.lit(0)
            )
            .cast("long")
            .alias("n_b_only"),
        )
    )
    side_stats = mins.agg(
        F.coalesce(F.sum(F.when(F.col("group") == "a", 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("nh_a"),
        F.max(F.when(F.col("group") == "a", F.col("h"))).alias("kth_a"),
        F.coalesce(F.sum(F.when(F.col("group") == "b", 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("nh_b"),
        F.max(F.when(F.col("group") == "b", F.col("h"))).alias("kth_b"),
    )
    stats = F.broadcast(side_stats).crossJoin(F.broadcast(ustats))

    def _est(nh: str, kth: str):
        return F.when(F.col(nh) < k, F.col(nh)).otherwise(
            F.expr(
                f"({k - 1}L * {KMV_SCALE}L) DIV "
                f"GREATEST(CAST(conv({kth}, 16, 10) AS BIGINT), 1L)"
            )
        )

    # integer DIV first (never float: IEEE rounding would drift between
    # engines), product second — overflow-safe by DIV-first; below union
    # capacity every hash survived, so the sample counts ARE the truth
    def _sample_scaled(cnt: str):
        return (
            F.when(F.col("nu") < k, F.col(cnt))
            .otherwise(F.expr(f"{cnt} * (est_union DIV {k}L)"))
            .cast("long")
        )

    out = stats.withColumn(
        "est_union", _est("nu", "kth_u").cast("long")
    ).select(
        "nh_a",
        "nh_b",
        _est("nh_a", "kth_a").cast("long").alias("est_a"),
        _est("nh_b", "kth_b").cast("long").alias("est_b"),
        "n_both",
        "est_union",
        _sample_scaled("n_both").alias("est_intersection"),
        _sample_scaled("n_a_only").alias("est_a_minus_b"),
        _sample_scaled("n_b_only").alias("est_b_minus_a"),
    )
    if not with_exact:
        return out
    per_key = (
        tagged.filter(F.col("key").isNotNull())
        .distinct()
        .groupBy("key")
        .agg(
            F.max(F.when(F.col("group") == "a", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("group") == "b", 1).otherwise(0)).alias("in_b"),
        )
    )
    exact = per_key.agg(
        F.sum("in_a").cast("long").alias("exact_a"),
        F.sum("in_b").cast("long").alias("exact_b"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("exact_intersection"),
        F.sum(F.col("in_a") * (1 - F.col("in_b")))
        .cast("long")
        .alias("exact_a_minus_b"),
        F.sum(F.col("in_b") * (1 - F.col("in_a")))
        .cast("long")
        .alias("exact_b_minus_a"),
    )
    return F.broadcast(exact).crossJoin(out)


def kmv_compact(spark, src_path: str, dst_path: str, k: int = KMV_K) -> None:
    """Fold the per-epoch partials to ONE epoch-0 sketch at a NEW path
    (swap by repoint — a concurrent reader always sees a complete
    store); orphans from a crashed append are dropped by the epoch-SET
    read.  The merged sketch is preserved bit for bit (merge law)."""
    commit_epoch(
        spark, dst_path, 0, {"mins": kmv_read_mins(spark, src_path, k)},
        mode="errorifexists",
    )
