"""Vector-similarity query family ([EXT], SURVEY §7 M5): approximate-
nearest-neighbor search over ``embeddings.embedding`` (array<float>, d=64).

Two tiers, per the driver's north star:

* **brute-force cosine top-k** against a broadcast literal query vector —
  the exact baseline; O(N·d) with no shuffle (embarrassingly parallel scan
  + a single top-k reduce), fine at any corpus size for a small query set;
* **random-hyperplane LSH** — bucket the corpus once (narrow, O(N·d·p)),
  then candidate-join WITHIN buckets only; the standard scale path above
  ~10⁶ vectors where any all-pairs product is impossible.

Determinism: both engines fold the dot product strictly left-to-right over
per-element double casts (see functions/similarity.py), so cosine scores
are bit-identical IEEE doubles and value-hash comparison is exact.  The
query vector and hyperplanes are seeded module-level literals embedded
verbatim into both engines' plans.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.functions.similarity import (
    EMBEDDING_DIM,
    cosine,
    cosine_sql,
    dot,
    dot_sql,
    lsh_table_keys,
    lsh_table_keys_int,
    lsh_table_keys_sql,
)
from kafka_streams_dead_letter_publishing_spark.plans.registry import query
from kafka_streams_dead_letter_publishing_spark.sources.tables import fan_out, load_table

# Deterministic literal query vector (seed ≠ the hyperplane seed).
QUERY_VECTOR: list[float] = [
    float(x) for x in np.random.default_rng(11).standard_normal(EMBEDDING_DIM)
]

def _qv() -> F.Column:
    # lazy — Column construction needs an active SparkContext
    return F.array(*[F.lit(x) for x in QUERY_VECTOR])


def _qv_sql() -> str:
    """DuckDB literal list, same repr→double parse as Spark's F.lit."""
    elems = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in QUERY_VECTOR)
    return f"[{elems}]"


# NOTE: r3's emb_cosine_topk (ONE literal query vector) was folded into
# emb_multi_query_topk per the r3 verdict — the single-query brute-force
# baseline is the Q=1 special case of the batch-serving shape below, and
# query 0 of the batch IS the original QUERY_VECTOR, so the operator keeps
# oracle coverage through the generalized row.

#: Serving-shaped query batch: query 0 is the original QUERY_VECTOR (r1–r3
#: continuity), plus three more deterministic vectors.
N_QUERIES = 4
TOPK_PER_QUERY = 10
QUERY_BATCH: list[list[float]] = [QUERY_VECTOR] + [
    [float(x) for x in np.random.default_rng(13 + i).standard_normal(EMBEDDING_DIM)]
    for i in range(N_QUERIES - 1)
]


def _query_batch_expr() -> F.Column:
    """Nested literal matrix, ConstantFolding-collapsed (same shape trick
    as the LSH plane matrix — one Literal node, O(1) expression tree)."""
    return F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in q) + ")"
            for q in QUERY_BATCH
        )
        + ")"
    )


def _query_batch_values_sql() -> str:
    return ", ".join(
        f"({i}, [" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in q) + "])"
        for i, q in enumerate(QUERY_BATCH)
    )


# NOTE (r14): emb_multi_query_topk (brute-force cosine top-k for the
# QUERY_BATCH) was RETIRED from the registry per the r13 verdict's
# registry-hygiene note (the 100-row cap; SURVEY named it the candidate)
# to make room for the streamed as-of join row.  The exact-serving shape
# stays oracled through emb_ivf_batch_topk (same QUERY_BATCH, same
# two-phase per-query top-k, exact cosine over the probed cells — its
# unrolled-CTE oracle replays the whole fit), and the brute-force
# function below remains the recall REFERENCE for the PQ/IVF-PQ floors
# (tests/test_pq.py) and keeps its two-phase plan gate
# (tests/test_plan_quality.py).  Same retirement pattern as r9's
# emb_label_centroids and r6's docs_dedup_pick_first.
def emb_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Brute-force cosine top-k for a BATCH of Q query vectors —
    the exact baseline of the ANN serving shape.  Top-k per query is
    TWO-PHASE: a partition-local row_number over (partition_id,
    query_id) keeps ≤k rows per partition per query, so the final
    per-query window ranks only k·P rows — never a full N·Q-row shuffle
    into Q reducers (the skew trap of a naive window-per-query at
    corpus scale)."""
    from pyspark.sql import Window

    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
    scored = (
        emb.select(
            "vec_id", F.posexplode(_query_batch_expr()).alias("query_id", "qv"), "embedding"
        )
        .select("query_id", "vec_id", cosine(F.col("embedding"), F.col("qv")).alias("cos"))
        # zero-norm vectors score NULL (undefined cosine) — keep them out
        # of the ranking so both engines' NULL-ordering never matters
        .filter(F.col("cos").isNotNull())
    )
    # phase 1: local top-k per (physical partition, query) — any global
    # top-k member is necessarily a local top-k member of its partition
    staged = scored.withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("pid", "query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    local = (
        staged.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= TOPK_PER_QUERY)
        .drop("pid", "rn")
    )
    # phase 2: exact rank over the ≤ k·P survivors
    w_global = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return local.withColumn("rnk", F.row_number().over(w_global)).filter(
        F.col("rnk") <= TOPK_PER_QUERY
    )


# NOTE: r2's emb_lsh_bucket_histogram (bucket-occupancy listing) was folded
# away per the r2 verdict — the bucketing operator stays oracled end-to-end
# through emb_ann_multitable_pairs, and bucket-occupancy balance is pinned
# by tests/test_plan_quality.py's occupancy gate instead of a registry row.


# NOTE (r9): emb_label_centroids (the order-PINNED collect_list fold) was
# folded away per the r8 verdict's registry-hygiene note — the centroid
# computation stays hash-oracled through emb_label_centroids_scale (the
# commutative fixed-point partial-sum mode that is the 100 TB plan), and
# the fold-mode helper `_centroids` remains a library surface behind the
# ORACLE_CENTROID_MAX_GROUP fail-fast guard (tests/test_plan_quality.py),
# which was always its only legitimate regime.  Same retirement pattern as
# docs_dedup_pick_first in r6.


# ── scale-mode centroids: commutative fixed-point partial sums ───────────
#
# The r2 verdict's #1 scale fix: the fold-mode centroid (above) materializes
# a label's whole inverted list in ONE aggregation-buffer row — an executor
# OOM for a popular label at corpus scale.  The scale mode quantizes each
# component to integer MICROUNITS (floor(val·1e6) as bigint); bigint sums
# are exact and commutative, so Spark's partial (map-side) aggregation and
# DuckDB's single-threaded sum produce IDENTICAL values with no order
# pinning and O(1) state per (label, dim) group.  Precision trade: the
# centroid is exact at 1e-6 resolution (microunit semantics are part of the
# operator contract, like any quantized IVF coarse quantizer).  Headroom:
# |val| < 6 ⇒ |sum_fixed| < 6e6·n — overflows bigint only past ~1.5e12
# vectors per label.

FIXED_SCALE = 1_000_000  # microunits per unit


@query(
    "emb_label_centroids_scale",
    f"""
    SELECT label, CAST(i - 1 AS INT) AS dim, COUNT(*) AS n_vectors,
           CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {FIXED_SCALE})
                         AS BIGINT)) AS BIGINT) AS sum_fixed,
           (CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {FIXED_SCALE})
                              AS BIGINT)) AS BIGINT) AS DOUBLE)
            / COUNT(*)) / {FIXED_SCALE}.0 AS centroid_val
    FROM embeddings, generate_series(1, {EMBEDDING_DIM}) g(i)
    GROUP BY label, i
    """,
    doc="[EXT] Per-label centroids, SCALE MODE (the 100 TB IVF index build): "
    "posexplode to (label, dim, val), quantize to integer microunits, and "
    "groupBy(label, dim).sum — exact commutative bigint partials, so the "
    "plan keeps map-side partial aggregation, per-group state is O(1), and "
    "no collect_list ever materializes an inverted list in one buffer row "
    "(the r2 scale-killer).  emb_label_centroids keeps the order-pinned "
    "exact-double fold as the oracle-grade companion mode.",
    tags=("similarity", "aggregation", "scale"),
)
def emb_label_centroids_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    fixed = exploded.select(
        "label",
        "dim",
        F.floor(F.col("val").cast("double") * FIXED_SCALE).cast("bigint").alias("fx"),
    )
    agg = fixed.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.sum("fx").alias("sum_fixed")
    )
    return agg.select(
        "label",
        "dim",
        "n_vectors",
        "sum_fixed",
        (
            (F.col("sum_fixed").cast("double") / F.col("n_vectors")) / F.lit(float(FIXED_SCALE))
        ).alias("centroid_val"),
    )


def _centroids_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, dim, n_vectors, sum_fixed) — the scale-mode index build."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "val"))
        .select(
            "label",
            "dim",
            F.floor(F.col("val").cast("double") * FIXED_SCALE).cast("bigint").alias("fx"),
        )
        .groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.sum("fx").alias("sum_fixed"))
    )


#: Hard cap on one label's inverted-list length in ORACLE mode (r5 verdict
#: #4): _centroids materializes a label's whole vector list in a single
#: aggregation-buffer row (struct(vec_id, 64 doubles) ≈ 0.5 KB/vector ⇒
#: ~50 MB buffer at the cap) — fine for the sf-small oracle comparison it
#: exists for, an executor OOM if ever pointed at a real corpus.  The guard
#: fails FAST (a cheap partial-agg count scan before the buffering
#: aggregation runs) and names emb_label_centroids_scale as the scale path.
ORACLE_CENTROID_MAX_GROUP = 100_000


def _centroids(
    spark: SparkSession, sf_dir: str, max_group: int = ORACLE_CENTROID_MAX_GROUP
) -> DataFrame:
    """(label, n, centroid array<double>) with order-pinned summation.

    ORACLE MODE ONLY — see ORACLE_CENTROID_MAX_GROUP.  Raises RuntimeError
    before aggregating if any label's group exceeds ``max_group``."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    over = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_group)
        .limit(1)
        .collect()
    )
    if over:
        raise RuntimeError(
            f"_centroids is the ORACLE-grade mode: label {over[0].label!r} has "
            f"{over[0].n} vectors (> {max_group}), which would buffer its whole "
            "inverted list in one aggregation-buffer row. Use the "
            "emb_label_centroids_scale path (commutative fixed-point partial "
            "sums) for corpora at scale."
        )
    agg = emb.groupBy("label").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "e"))).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    )
    zero = F.array_repeat(F.lit(0.0), EMBEDDING_DIM)
    summed = F.aggregate(
        F.transform(F.col("vs"), lambda s: s["e"]),
        zero,
        lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y),
    )
    return agg.select(
        "label",
        "n",
        F.transform(summed, lambda x: x / F.col("n")).alias("centroid"),
    )


# Quantized query vector for the coarse-quantizer routing (millunits,
# scale 1e3).  The SAME integers are embedded in both engines, so routing
# involves no cross-engine float arithmetic at all.  Overflow headroom
# (r3 ADVICE corrected the r2 claim): a single term |sum_fixed·qf| <
# 6e6·n·6e3 and the 64-dim score sum reaches ~2.3e12·n — PAST BIGINT at
# n ≈ 4e6 vectors per label, exactly the regime the scale path targets,
# and Spark would wrap silently where DuckDB raises.  The score therefore
# accumulates in exact wide-integer arithmetic on both engines —
# DECIMAL(38,0) on Spark, HUGEINT on DuckDB — good to n ≈ 1e25, far past
# the 1.5e12 bound where sum_fixed itself leaves bigint.
QV_FIXED: list[int] = [math.floor(x * 1000) for x in QUERY_VECTOR]

#: Inverted lists probed per query.  nprobe=1 is the textbook demo but a
#: recall cliff in practice: anything the coarse quantizer mis-routes is
#: unreachable.  Real IVF serving probes several lists (FAISS default
#: nprobe≥1, typically 8–64 at nlist in the thousands); recall rises
#: ~linearly in nprobe while fine-ranking cost stays nprobe/nlist of the
#: corpus.  tests/test_plan_quality.py pins the mechanism: candidate-set
#: recall is monotone in nprobe and the nprobe=3 result strictly improves
#: on nprobe=1 against brute force.
IVF_NPROBE = 3

# NOTE (r6): emb_ivf_probe_topk — IVF routed on the pre-existing `label`
# column — was CONSOLIDATED out of the registry in favor of the LEARNED
# k-means row below (r4/r5 verdicts: labels carry no cluster structure on
# this corpus, so label routing's recall ceiling is nprobe/nlist = 0.3
# while the learned quantizer measures 0.6 at the same probe budget).  The
# operator itself stays: ivf_probe_topk still backs the recall-comparison
# gates in tests/test_plan_quality.py and tests/test_kmeans.py, and its
# unique oracle ingredient (exact wide-integer centroid scoring —
# DECIMAL(38,0) on Spark, HUGEINT on DuckDB) lives on below in the learned
# row's all-integer fit.


def ivf_probe_topk(
    spark: SparkSession, sf_dir: str, nprobe: int, k: int = 10
) -> DataFrame:
    """Multi-probe IVF search with a caller-chosen probe width (the registry
    query pins nprobe=IVF_NPROBE; tests sweep it to pin recall monotonicity)."""
    cf = _centroids_fixed(spark, sf_dir)
    qf = F.array(*[F.lit(v).cast("bigint") for v in QV_FIXED])
    score = (
        cf.select(
            "label",
            "n_vectors",
            # DECIMAL(38,0): exact wide-integer accumulation — the bigint
            # product would wrap silently at ~4e6 vectors/label (see the
            # QV_FIXED headroom note); decimal partials stay commutative
            (
                F.col("sum_fixed").cast("decimal(38,0)")
                * F.element_at(qf, F.col("dim") + 1)
            ).alias("term"),
        )
        .groupBy("label")
        .agg(F.sum("term").alias("sc"), F.max("n_vectors").alias("n"))
    )
    best = (
        score.orderBy(F.desc(F.col("sc").cast("double") / F.col("n")), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.join(F.broadcast(best), "label")
        .select("vec_id", "label", cosine(F.col("embedding"), _qv()).alias("cos"))
        .filter(F.col("cos").isNotNull())  # zero-norm vectors drop out
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


# ── learned IVF: k-means coarse quantizer serving the registry (r6) ──────
#
# The production IVF flow end-to-end as ONE oracled row: fit a coarse
# quantizer on the corpus (operators/kmeans.kmeans_fit_quantized — Lloyd's
# in exact microunit-integer arithmetic, so the fit is a pure deterministic
# function of the data), persist the assigned corpus partitionBy(cluster)
# (the inverted-file index), route the query to nprobe cells on the driver
# from k×d centroid metadata, and serve exact cosine top-k from the probed
# partitions only — a scan the planner prunes to nprobe/nlist of the index
# (PartitionFilters, gated in tests/test_plan_quality.py).
#
# The DuckDB oracle replays the IDENTICAL fit as an unrolled CTE chain
# (init → [assign → update] × ITERS → final assign → probe → top-k): every
# intermediate is an exact integer in both engines (floor-div update,
# lowest-index tie-breaks), so the learned partition — not just the final
# ranking — is value-hash-gated.

IVF_LEARNED_NLIST = 8
IVF_LEARNED_ITERS = 3
#: The quantizer trains on the deterministic 1/4 sample ``vec_id % 4 == 0``
#: (standard IVF practice — FAISS trains its coarse quantizer on a corpus
#: sample, then assigns everything): Lloyd's cost drops by the sample
#: factor while the full-corpus ASSIGNMENT stays exact, and because the
#: sample predicate is a pure function of vec_id the oracle replays the
#: sampled fit exactly.  At 100 TB this is the difference between an
#: index build that scans the corpus iters+1 times and one that scans it
#: once (plus iters scans of the sample).
IVF_LEARNED_SAMPLE_MOD = 4

# The learned row's quantization resolution is operators.kmeans.QUANT_SCALE
# (the fit runs there; the oracle SQL is generated here) — one constant, not
# two that happen to agree.  FIXED_SCALE remains the centroid-row contract;
# the assert pins the documented fact that both families share microunits.
from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (  # noqa: E402
    QUANT_SCALE as _QUANT_SCALE,
)

assert _QUANT_SCALE == FIXED_SCALE, "quantization contracts diverged"
QV_MICRO: list[int] = [math.floor(x * _QUANT_SCALE) for x in QUERY_VECTOR]

#: (index_path, centroids) per sf_dir — build once, serve every call (the
#: real serving shape; also keeps repeated correctness/test calls from
#: leaking one temp index dir per invocation).
_LEARNED_INDEX_CACHE: dict[str, tuple[str, list[list[int]]]] = {}


def learned_ivf_index(spark: SparkSession, sf_dir: str) -> tuple[str, list[list[int]]]:
    """Build (or reuse) the persisted learned-IVF index for a corpus: fit
    the quantized coarse quantizer, assign every vector, write the corpus
    ``partitionBy(cluster)``.  Returns (parquet path, k×d microunit
    centroid matrix).

    INDEXABLE CONTRACT: only rows whose embedding has exactly
    EMBEDDING_DIM finite non-NULL components enter the fit and the index
    (``abs(x) < inf`` excludes NULL, NaN and ±inf identically in both
    engines) — a non-finite component would otherwise leave the argmin
    fold's -1 sentinel on the Spark side while DuckDB's NULLS-LAST
    row_number tie-breaks the row into cluster 0, breaking parity; a NaN
    would even make DuckDB's BIGINT cast raise.  The oracle's eq CTE
    applies the identical predicate.

    CACHE: keyed by sf_dir and assumes the corpus under that path is
    immutable for the process lifetime (true for the driver's fixed
    testdata and per-test tmp fixtures); one temp index dir per
    (process, sf_dir) is left behind for the OS tmp reaper."""
    import os
    import tempfile

    cached = _LEARNED_INDEX_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(cached[0]):
        return cached
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        indexable,
        kmeans_fit_quantized,
        nearest_cluster_quantized,
        quantize_embedding,
    )

    # fan_out first: the toy tables are single-row-group parquet whose scan
    # cannot split, and both the per-iteration argmin fold and the index
    # assignment are compute-dense narrow maps — without the repartition
    # they run on ONE core (the same trap emb_ann_multitable_pairs guards
    # against; a no-op to skip at real scale where the scan splits).
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id").filter(
        indexable(F.col("embedding"), EMBEDDING_DIM)
    )
    sample = emb.filter(F.col("vec_id") % IVF_LEARNED_SAMPLE_MOD == 0)
    cents = kmeans_fit_quantized(sample, IVF_LEARNED_NLIST, IVF_LEARNED_ITERS)
    assigned = emb.select(
        "vec_id",
        "embedding",
        nearest_cluster_quantized(
            cents, quantize_embedding(F.col("embedding"))
        ).alias("cluster"),
    )
    path = tempfile.mkdtemp(prefix="ivf-learned-index-")
    # Cluster the write: without this every task writes a file into every
    # cluster directory (tasks × nlist files — 256 at local[32]; the commit
    # protocol, not compute, dominated the build at sf0.1).  Hashing on the
    # partition column co-locates each inverted list into one task ⇒ one
    # file per cell here, and at real scale the same repartition is the
    # write-side clustering that keeps files-per-cell = shuffle partitions
    # holding that cell, not total tasks.
    assigned.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(path)
    _LEARNED_INDEX_CACHE[sf_dir] = (path, cents)
    return path, cents


def _ivf_fit_parts() -> tuple[list[str], str]:
    """Unrolled DuckDB replay of the quantized k-means fit: quantize →
    deterministic sample → seeded init → ITERS × (assign → floor-div
    update) → one full-corpus assignment.  Returns (CTE parts, name of the
    final assignment CTE) so serving tails (single-query or batch) can
    build on the identical fit."""
    k, iters, dim = IVF_LEARNED_NLIST, IVF_LEARNED_ITERS, EMBEDDING_DIM

    def assign(t: int, prev: str, keep_qe: bool, src: str = "eq") -> str:
        cols = "vec_id, qe, cluster" if keep_qe else "vec_id, cluster"
        return f"""a{t} AS (
      SELECT {cols} FROM (
        SELECT e.vec_id, e.qe, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum([(e.qe[i] - c.cent[i]) * (e.qe[i] - c.cent[i])
                           FOR i IN generate_series(1, {dim})]) ASC,
                 c.cluster ASC) AS rn
        FROM {src} e CROSS JOIN {prev} c)
      WHERE rn = 1
    )"""

    parts = [
        f"""WITH eq AS MATERIALIZED (
      SELECT vec_id,
             [CAST(floor(CAST(embedding[i] AS DOUBLE) * {_QUANT_SCALE}) AS BIGINT)
              FOR i IN generate_series(1, {dim})] AS qe
      FROM embeddings
      -- indexable contract (mirrors learned_ivf_index): exactly {dim}
      -- finite non-NULL components; abs(x) < inf excludes NULL/NaN/±inf
      WHERE len(list_filter(embedding,
                x -> abs(CAST(x AS DOUBLE)) < 'infinity'::DOUBLE)) = {dim}
    ),
    eqs AS MATERIALIZED (
      SELECT vec_id, qe FROM eq WHERE vec_id % {IVF_LEARNED_SAMPLE_MOD} = 0
    ),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
             qe AS cent
      FROM (SELECT vec_id, qe FROM eqs ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(assign(t, f"c{t-1}", keep_qe=True, src="eqs"))
        # Exact integer FLOOR division matching Python's `//` at ANY
        # magnitude: subtract the positive modulus first so the numerator
        # is exactly divisible, then integer `//` on HUGEINT — truncation
        # of an exact quotient IS floor, and no float division ever runs.
        # (A bare floor(SUM/COUNT) routes through double and drifts once
        # |sum| > 2^53 ≈ 1.5e9 vectors/cluster at microunit scale.)
        parts.append(f"""n{t} AS (
      SELECT cluster, list(cv ORDER BY dim) AS cent FROM (
        SELECT cluster, g.i AS dim,
               CAST((SUM(qe[g.i]) - ((SUM(qe[g.i]) % COUNT(*)) + COUNT(*))
                     % COUNT(*)) // COUNT(*) AS BIGINT) AS cv
        FROM a{t}, generate_series(1, {dim}) g(i)
        GROUP BY cluster, g.i)
      GROUP BY cluster
    )""")
        parts.append(f"""c{t} AS (
      SELECT p.cluster, COALESCE(u.cent, p.cent) AS cent
      FROM c{t-1} p LEFT JOIN n{t} u ON p.cluster = u.cluster
    )""")
    parts.append(assign(iters + 1, f"c{iters}", keep_qe=False))
    return parts, f"a{iters + 1}"


#: Microunit twins of QUERY_BATCH for probe routing against the microunit
#: centroid matrix (query 0 is QV_MICRO).  Fine ranking scores the exact
#: float originals — routing space and scoring space are decoupled, the
#: standard quantized-coarse-quantizer split.
QUERY_BATCH_MICRO: list[list[int]] = [
    [math.floor(x * _QUANT_SCALE) for x in q] for q in QUERY_BATCH
]
assert QUERY_BATCH_MICRO[0] == QV_MICRO


def _ivf_batch_sql() -> str:
    """The fit replay of :func:`_ivf_fit_parts` + BATCH serving tail:
    per-query probe sets (exact-integer distance, lowest-cluster
    tie-break — the SQL twin of operators.kmeans.route_query) and exact
    per-query cosine top-k over the probed cells only."""
    dim = EMBEDDING_DIM
    parts, final_assign = _ivf_fit_parts()
    qm_rows = ", ".join(
        f"({i}, [" + ", ".join(f"CAST({v} AS BIGINT)" for v in q) + "])"
        for i, q in enumerate(QUERY_BATCH_MICRO)
    )
    parts.append(f"""qm(query_id, qmv) AS (VALUES {qm_rows}),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT q.query_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum([(c.cent[i] - q.qmv[i]) * (c.cent[i] - q.qmv[i])
                           FOR i IN generate_series(1, {dim})]) ASC,
                 c.cluster ASC) AS rn
        FROM c{IVF_LEARNED_ITERS} c CROSS JOIN qm q)
      WHERE rn <= {IVF_NPROBE}
    ),
    qf(query_id, qv) AS (VALUES {_query_batch_values_sql()})""")
    body = ",\n".join(parts)
    return f"""{body}
    SELECT CAST(query_id AS INT) AS query_id, vec_id, cluster, cos,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT query_id, vec_id, cluster, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rnk
      FROM (
        SELECT p.query_id, a.vec_id, CAST(a.cluster AS INT) AS cluster,
               {cosine_sql("e.embedding", "q.qv")} AS cos
        FROM {final_assign} a
        JOIN probes p ON a.cluster = p.cluster
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN qf q ON q.query_id = p.query_id)
      WHERE cos IS NOT NULL)
    WHERE rnk <= {TOPK_PER_QUERY}
    """


@query(
    "emb_ivf_batch_topk",
    _ivf_batch_sql(),
    doc="[EXT] LEARNED-quantizer IVF BATCH serving, the production ANN "
    f"flow (r6 verdict #6): k-means (k={IVF_LEARNED_NLIST}, "
    f"{IVF_LEARNED_ITERS} fixed Lloyd's rounds, trained on the "
    f"deterministic 1/{IVF_LEARNED_SAMPLE_MOD} sample vec_id % "
    f"{IVF_LEARNED_SAMPLE_MOD} == 0 — FAISS-style sampled quantizer "
    "training) fit in exact microunit-integer arithmetic, so the DuckDB "
    "oracle replays the WHOLE fit bit-for-bit as an unrolled CTE chain; "
    "the assigned corpus persists partitionBy(cluster) as the "
    "inverted-file index; a BATCH of "
    f"{N_QUERIES} queries routes driver-side to nprobe={IVF_NPROBE} cells "
    "each (k×d metadata only), ONE partition-pruned scan covers the union "
    "of probed cells, a broadcast (query_id, cluster) probe table fans "
    "each vector out to exactly the queries that probed its cell, and "
    "per-query exact-cosine top-10 is two-phase (partition-local then "
    "global row_number — never N·Q rows into Q reducers).  Subsumes r6's "
    "single-query emb_ivf_learned_topk (query 0 IS its QUERY_VECTOR; the "
    "function below stays as the Q=1 serving path, plan-gated in "
    "test_plan_quality), the same consolidation as r3's emb_cosine_topk → "
    "emb_multi_query_topk fold.  BENCH NOTE: the index caches per-process "
    "(build once, serve every call — the real serving shape), so bench "
    "sample 1 includes the one-time fit+persist and the median reports "
    "warm batch serving.",
    tags=("similarity", "topk", "ivf", "scale", "bench"),
)
def emb_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        ivf_search_batch,
    )

    try:
        path, cents = learned_ivf_index(spark, sf_dir)
    except ValueError as e:
        if "empty input" not in str(e):
            raise  # only the no-trainable-sample case maps to 0 rows
        # No training sample (empty corpus, or no indexable vec_id hits the
        # sample predicate): no quantizer → no index → 0 rows — exactly
        # what the oracle yields (its c0 CTE is empty, so every downstream
        # CTE including the final join is empty).  Stable schema either way.
        return spark.createDataFrame(
            [], "query_id int, vec_id long, cluster int, cos double, rnk int"
        )
    idx = spark.read.parquet(path)
    res = ivf_search_batch(
        idx,
        cents,
        QUERY_BATCH,
        IVF_NPROBE,
        k=TOPK_PER_QUERY,
        route_queries=QUERY_BATCH_MICRO,
    )
    return res.select(
        F.col("query_id").cast("int").alias("query_id"),
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        "cos",
        F.col("rnk").cast("int").alias("rnk"),
    )


# NOTE (r7): the single-query learned-IVF row was CONSOLIDATED into
# emb_ivf_batch_topk above (query 0 of the batch IS QUERY_VECTOR, so the
# Q=1 case keeps oracle coverage through the generalized row — the same
# fold as r3's emb_cosine_topk → emb_multi_query_topk).  The serving
# function itself stays: tests/test_plan_quality.py pins its
# partition-pruned scan and tests/test_kmeans.py its recall.
def emb_ivf_learned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import route_query

    try:
        path, cents = learned_ivf_index(spark, sf_dir)
    except ValueError as e:
        if "empty input" not in str(e):
            raise
        return spark.createDataFrame([], "vec_id long, cluster int, cos double")
    probes = route_query(cents, QV_MICRO, IVF_NPROBE)
    idx = spark.read.parquet(path)
    return (
        idx.filter(F.col("cluster").isin(probes))
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            cosine(F.col("embedding"), _qv()).alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


# ── two-level routing over the learned quantizer (r11) ───────────────────


def _two_level_sql() -> str:
    """Fit replay + TWO-LEVEL assignment of every indexable vector: the
    bit-for-bit DuckDB twin of ``kmeans.nearest_cluster_two_level`` over
    learned_ivf_index's centroids — stride-sampled coarse reps, exact
    argmin fine→rep grouping (empty groups dropped), per-vector coarse
    argmin over the live reps then fine argmin over ONLY that group's
    members, every tie to the lowest index (the engine folds' strict-<
    semantics)."""
    import math as _math

    dim, k = EMBEDDING_DIM, IVF_LEARNED_NLIST
    n1 = max(1, _math.isqrt(k))
    stride = -(-k // n1)
    parts, _ = _ivf_fit_parts()
    cN = f"c{IVF_LEARNED_ITERS}"

    def d2(a: str, b: str) -> str:
        return (
            f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
            f"FOR i IN generate_series(1, {dim})])"
        )

    parts.append(f"""tl_reps AS (
      SELECT CAST(cluster // {stride} AS INT) AS gi, cent
      FROM {cN} WHERE cluster % {stride} = 0 AND cluster // {stride} < {n1}
    ),
    tl_grp AS (
      SELECT cluster, gi FROM (
        SELECT f.cluster, r.gi,
               ROW_NUMBER() OVER (PARTITION BY f.cluster ORDER BY
                 {d2('f.cent', 'r.cent')} ASC, r.gi ASC) AS rn
        FROM {cN} f CROSS JOIN tl_reps r)
      WHERE rn = 1
    ),
    tl_live AS (
      SELECT r.gi, r.cent FROM tl_reps r
      JOIN (SELECT DISTINCT gi FROM tl_grp) g USING (gi)
    ),
    tl_coarse AS (
      SELECT vec_id, gi FROM (
        SELECT e.vec_id, r.gi,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 {d2('e.qe', 'r.cent')} ASC, r.gi ASC) AS rn
        FROM eq e CROSS JOIN tl_live r)
      WHERE rn = 1
    ),
    tl_fine AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, f.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 {d2('e.qe', 'f.cent')} ASC, f.cluster ASC) AS rn
        FROM eq e
        JOIN tl_coarse co ON co.vec_id = e.vec_id
        JOIN tl_grp g2 ON g2.gi = co.gi
        JOIN {cN} f ON f.cluster = g2.cluster)
      WHERE rn = 1
    )""")
    body = ",\n".join(parts)
    return f"""{body}
    SELECT vec_id, CAST(cluster AS INT) AS cluster FROM tl_fine
    """


@query(
    "emb_two_level_assignment",
    _two_level_sql(),
    doc="[EXT] Two-level cell routing over the learned coarse quantizer "
    "(operators/kmeans.nearest_cluster_two_level): argmin over sqrt(k) "
    "stride-sampled representative centroids, then argmin over ONLY that "
    "group's fine members — O(sqrt k) distance folds per row where the "
    "flat fold pays O(k), the cost cliff semdedup_flags now REFUSES past "
    "k=4096 (measured exponents: flat 1.28, two-level 1.06 — SCALE.md "
    "r11).  The assignment is deterministic (strict-< folds, lowest-"
    "index ties, driver-side exact-integer grouping) and this row proves "
    "it CROSS-ENGINE: the oracle replays the stride sampling, the "
    "fine-to-rep grouping, and both argmin levels bit-for-bit on top of "
    "the same unrolled k-means fit the flat rows replay.  Approximate vs "
    "flat only at cell boundaries (>= 90% agreement pytest) — a valid "
    "dedup/partition scope, since any deterministic assignment is.  "
    "Scale shape: routing is a narrow map (folded literal matrices, no "
    "shuffle); the fit is the learned-IVF fit already probed.",
    tags=("similarity", "routing", "semdedup"),
)
def emb_two_level_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        indexable,
        nearest_cluster_two_level,
        quantize_embedding,
    )

    try:
        _, cents = learned_ivf_index(spark, sf_dir)
    except ValueError as e:
        if "empty input" not in str(e):
            raise
        return spark.createDataFrame([], "vec_id long, cluster int")
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id").filter(
        indexable(F.col("embedding"), EMBEDDING_DIM)
    )
    return emb.select(
        "vec_id",
        nearest_cluster_two_level(
            cents, quantize_embedding(F.col("embedding"))
        ).alias("cluster"),
    )


# ── SemDeDup: semantic dedup via coarse-cluster-scoped cosine (r9) ───────

#: similarity threshold for the registry row — planted twins score
#: ~0.9999, the fixture's max NATURAL pair cosine is 0.513 (measured), so
#: no comparison is ever near the boundary
SEMDEDUP_TAU = 0.9
SEMDEDUP_PLANT_EVERY = 25
SEMDEDUP_TWIN_OFFSET = 100_000
#: deterministic twin perturbation: +0.05 on component 0 (cos ≈ 0.9999)
SEMDEDUP_EPS = "0.05"


def _semdedup_sql() -> str:
    """Fit replay + frozen-quantizer assignment of the PLANTED corpus +
    within-cell lower-id pair search, all in DuckDB: the bit-for-bit twin
    of operators/semdedup.py over learned_ivf_index's centroids."""
    dim = EMBEDDING_DIM
    parts, _ = _ivf_fit_parts()
    indexable_where = (
        "len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) < "
        f"'infinity'::DOUBLE)) = {dim}"
    )
    parts.append(f"""aug AS MATERIALIZED (
      SELECT vec_id,
             [CAST(embedding[i] AS DOUBLE)
              FOR i IN generate_series(1, {dim})] AS fe
      FROM embeddings WHERE {indexable_where}
      UNION ALL
      SELECT vec_id + {SEMDEDUP_TWIN_OFFSET},
             [CAST(embedding[i] AS DOUBLE)
              + CASE WHEN i = 1 THEN CAST('{SEMDEDUP_EPS}' AS DOUBLE)
                     ELSE CAST(0 AS DOUBLE) END
              FOR i IN generate_series(1, {dim})]
      FROM embeddings
      WHERE vec_id % {SEMDEDUP_PLANT_EVERY} = 0 AND {indexable_where}
    ),
    aeq AS (
      SELECT vec_id,
             [CAST(floor(fe[i] * {_QUANT_SCALE}) AS BIGINT)
              FOR i IN generate_series(1, {dim})] AS qe
      FROM aug
    ),
    sasg AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum([(e.qe[i] - c.cent[i]) * (e.qe[i] - c.cent[i])
                           FOR i IN generate_series(1, {dim})]) ASC,
                 c.cluster ASC) AS rn
        FROM aeq e CROSS JOIN c{IVF_LEARNED_ITERS} c)
      WHERE rn = 1
    ),
    sdups AS (
      SELECT DISTINCT a.vec_id
      FROM sasg a
      JOIN sasg b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
      JOIN aug ea ON ea.vec_id = a.vec_id
      JOIN aug eb ON eb.vec_id = b.vec_id
      WHERE {cosine_sql('ea.fe', 'eb.fe')}
            >= CAST('{SEMDEDUP_TAU!r}' AS DOUBLE)
    )""")
    body = ",\n".join(parts)
    return f"""{body}
    SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster,
           (d.vec_id IS NULL) AS kept
    FROM sasg s LEFT JOIN sdups d ON s.vec_id = d.vec_id
    """


@query(
    "emb_semdedup_keepers",
    _semdedup_sql(),
    doc="[EXT] SemDeDup (Abbas et al. 2023): semantic deduplication in "
    "embedding space — k-means-cluster the corpus with the SAME learned "
    "coarse quantizer the IVF index uses (frozen centroids, exact "
    "integer assignment), then within each cell drop every vector with a "
    "lower-id cosine-similar cell-mate (tau=0.9).  The all-pairs O(N^2) "
    "the published method avoids is avoided the same way here: the pair "
    "search is an EQUI-join on the cluster id with the cosine fold as a "
    "residual condition, so the quadratic term is confined to single "
    "cells whose size the quantizer's k bounds.  Planted twins "
    "(+0.05 on one component of every 25th vector, cos~0.9999) are the "
    "ground truth: exactly the twins drop, nothing natural does (max "
    "natural pair cos 0.513, measured).  Oracle replays fit + "
    "assignment + pair search bit-for-bit.",
    tags=("similarity", "dedup", "semdedup", "bench"),
)
def emb_semdedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        indexable,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.semdedup import (
        semdedup_flags,
    )

    try:
        _, cents = learned_ivf_index(spark, sf_dir)
    except ValueError as e:
        if "empty input" not in str(e):
            raise
        return spark.createDataFrame([], "vec_id long, cluster int, kept boolean")
    aug = _planted_vector_corpus(spark, sf_dir)
    return semdedup_flags(
        aug, cents, SEMDEDUP_TAU, id_col="vec_id", emb_col="fe"
    )


def _planted_vector_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, fe array<double>) — indexable embeddings ∪ the planted
    near-parallel twins (+SEMDEDUP_EPS on component 0 of every
    SEMDEDUP_PLANT_EVERY-th vector, cos ≈ 0.9999).  ONE derivation shared
    by emb_semdedup_keepers and the streamed EmbeddingIngest gate so the
    two rows can never plant different ground truth."""
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        indexable,
    )

    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id").filter(
        indexable(F.col("embedding"), EMBEDDING_DIM)
    )
    fe = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", fe.alias("fe"))
    eps = F.lit(float(SEMDEDUP_EPS))
    twins = emb.filter(F.col("vec_id") % SEMDEDUP_PLANT_EVERY == 0).select(
        (F.col("vec_id") + SEMDEDUP_TWIN_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + F.when(i == 0, eps).otherwise(F.lit(0.0)),
        ).alias("fe"),
    )
    return base.unionByName(twins)


# ── EmbeddingIngest driver gate: the streamed vector-ingest pipeline ─────

#: per-process streamed EmbeddingIngest sink cache (the _DOC_INGEST_CACHE
#: convention — bench.py pops it to time the FULL drive)
_EMB_INGEST_CACHE: dict[str, str] = {}

_EMB_INGEST_BATCHES = 3
_EMB_INGEST_MIN_COS = "0.9"  # the pipeline default, spelled for exact replay


def _emb_ingest_oracle() -> str:
    """Replay the FULL 3-batch EmbeddingIngest drive in SQL: per batch
    (pmod(vec_id, 3) arrival order) — non-zero-norm admission, exact-array
    collapse to the lowest id, intra-batch multi-table sign-LSH one-join
    dedup at cos >= 0.9, then the store filter against everything accepted
    by EARLIER batches.  Table keys and the strict left-to-right double
    dot fold are the registry ANN family's own fragments
    (lsh_table_keys_sql / dot_sql), so the streamed gate and
    emb_ann_multitable_pairs share one set of candidate semantics."""
    dim = EMBEDDING_DIM
    indexable_where = (
        "len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) < "
        f"'infinity'::DOUBLE)) = {dim}"
    )
    tau = f"CAST('{_EMB_INGEST_MIN_COS}' AS DOUBLE)"

    def cos_ge(a: str, b: str) -> str:
        return (
            f"{dot_sql(f'{a}.fe', f'{b}.fe')} / "
            f"NULLIF(SQRT({dot_sql(f'{a}.fe', f'{a}.fe')}) * "
            f"SQRT({dot_sql(f'{b}.fe', f'{b}.fe')}), 0) >= {tau}"
        )

    parts = [
        f"""aug AS MATERIALIZED (
      SELECT vec_id,
             [CAST(embedding[i] AS DOUBLE)
              FOR i IN generate_series(1, {dim})] AS fe
      FROM embeddings WHERE {indexable_where}
      UNION ALL
      SELECT vec_id + {SEMDEDUP_TWIN_OFFSET},
             [CAST(embedding[i] AS DOUBLE)
              + CASE WHEN i = 1 THEN CAST('{SEMDEDUP_EPS}' AS DOUBLE)
                     ELSE CAST(0 AS DOUBLE) END
              FOR i IN generate_series(1, {dim})]
      FROM embeddings
      WHERE vec_id % {SEMDEDUP_PLANT_EVERY} = 0 AND {indexable_where}
    ),
    adm AS MATERIALIZED (
      SELECT vec_id, vec_id % {_EMB_INGEST_BATCHES} AS b, fe FROM aug
      WHERE {dot_sql('fe', 'fe')} > 0
    ),
    bk AS MATERIALIZED (
      SELECT vec_id, unnest({lsh_table_keys_sql('fe')}) AS k FROM adm
    )""",
    ]
    accepted_union = []
    for b in range(_EMB_INGEST_BATCHES):
        parts.append(f""",
    c{b} AS (
        SELECT vec_id FROM adm WHERE b = {b}
        QUALIFY row_number() OVER (PARTITION BY fe ORDER BY vec_id) = 1
    ),
    x{b} AS (
        SELECT DISTINCT kb.vec_id AS dropped
        FROM bk ka JOIN bk kb ON ka.k = kb.k AND ka.vec_id < kb.vec_id
        JOIN c{b} ia ON ia.vec_id = ka.vec_id
        JOIN c{b} ib ON ib.vec_id = kb.vec_id
        JOIN adm xa ON xa.vec_id = ka.vec_id
        JOIN adm xb ON xb.vec_id = kb.vec_id
        WHERE {cos_ge("xa", "xb")}
    ),
    e{b} AS (
        SELECT vec_id FROM c{b}
        WHERE vec_id NOT IN (SELECT dropped FROM x{b})
    )""")
        if b == 0:
            parts.append(",\n    a0 AS (SELECT vec_id FROM e0)")
        else:
            store = " UNION ALL ".join(
                f"SELECT vec_id FROM a{p}" for p in range(b)
            )
            parts.append(f""",
    s{b} AS (
        SELECT DISTINCT kq.vec_id AS rejected
        FROM bk kq JOIN bk kr ON kq.k = kr.k
        JOIN e{b} q ON q.vec_id = kq.vec_id
        JOIN ({store}) r ON r.vec_id = kr.vec_id
        JOIN adm xa ON xa.vec_id = kq.vec_id
        JOIN adm xb ON xb.vec_id = kr.vec_id
        WHERE {cos_ge("xa", "xb")}
    ),
    a{b} AS (
        SELECT vec_id FROM e{b}
        WHERE vec_id NOT IN (SELECT rejected FROM s{b})
    )""")
        accepted_union.append(f"SELECT vec_id FROM a{b}")
    body = "".join(parts)
    return f"""
    WITH {body}
    SELECT f.vec_id, SQRT({dot_sql('f.fe', 'f.fe')}) AS nrm
    FROM ({" UNION ALL ".join(accepted_union)}) acc
    JOIN adm f ON f.vec_id = acc.vec_id
    """


@query(
    "emb_ann_ingest_streamed",
    _emb_ingest_oracle(),
    doc="[EXT] EmbeddingIngest DRIVER-GATED (r16 — the r15 verdict's #2, "
    "the MediaIngest/DocumentIngest template applied to the vector twin): "
    "the planted semdedup corpus (indexable embeddings ∪ cos≈0.9999 "
    "twins) lands as three pmod(vec_id) micro-batches through a real "
    "readStream + foreachBatch running "
    "streaming/ingest_pipeline.EmbeddingIngest — non-zero-norm "
    "admission, exact-array collapse, intra-batch multi-table sign-LSH "
    "one-join dedup, ann_filter against the growing accepted store, IVF/"
    "vector/bucket stores appended payload-first/gate-LAST — and the "
    "accepted vectors store must equal the batch replay with the "
    "ARRIVAL-ORDER keeper rule: a vector is rejected iff its exact "
    "cosine with a lower-id batchmate or ANY earlier-batch acceptee it "
    "shares one of the 6x4-plane LSH buckets with reaches 0.9 "
    "(TWIN_OFFSET % 3 = 1 makes both arrival directions occur).  The "
    "oracle replays the banding via lsh_table_keys_sql (bijective with "
    "the engine's integer keys) and the cosine via the strict "
    "left-to-right dot_sql fold — identical IEEE decisions, so banding "
    "AND verify are pinned, not approximated.  Scale shape per batch: "
    "skinny (bk, id) equi-joins, 64-float payloads only on verified "
    "candidates; the store grows by accepted vectors only.  BENCH NOTE: "
    "the drive runs once per process; the median reports reading the "
    "persisted sink (emb_ann_ingest_streamed_drive times the full "
    "drive).",
    tags=("similarity", "lsh", "dedup", "streaming", "ingest"),
)
def emb_ann_ingest_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from kafka_streams_dead_letter_publishing_spark.plans.registry import (
        _capture_drive_stats,
        deliver_slice,
        stage_drive_slices,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.stores import store_exists
    from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (
        EmbeddingIngest,
    )

    sink = _EMB_INGEST_CACHE.get(sf_dir)
    if sink is None:
        try:
            _, cents = learned_ivf_index(spark, sf_dir)
        except ValueError as e:
            if "empty input" not in str(e):
                raise
            return spark.createDataFrame([], "vec_id long, nrm double")
        corpus = _planted_vector_corpus(spark, sf_dir).select(
            "vec_id", F.col("fe").alias("embedding")
        )
        base = tempfile.mkdtemp(prefix="emb-ingest-")
        src = f"{base}/src"

        # batch 1 lands before the query starts; batches 2 and 3 are
        # incremental appends between processAllAvailable barriers (the
        # docs_doc_ingest_streamed placement)
        def _slice(b: int):
            return corpus.filter(
                F.pmod(
                    F.coalesce(F.col("vec_id"), F.lit(0)),
                    F.lit(_EMB_INGEST_BATCHES),
                )
                == b
            ).coalesce(1)

        # r17: slices staged once per process, delivered by hardlink (the
        # events_asof_streamed note — fixture prep out of the timed drive)
        stage = stage_drive_slices(
            sf_dir,
            "embingest",
            {
                f"b{b}": (lambda b=b: _slice(b))
                for b in range(_EMB_INGEST_BATCHES)
            },
        )
        deliver_slice(stage, "b0", src)
        ing = EmbeddingIngest(
            f"{base}/ingest", cents, min_cos=float(_EMB_INGEST_MIN_COS)
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(ing.process_batch)
            .option("checkpointLocation", f"{base}/ck")
            .start()
        )
        try:
            q.processAllAvailable()
            for b in range(1, _EMB_INGEST_BATCHES):
                deliver_slice(stage, f"b{b}", src)
                q.processAllAvailable()
            _capture_drive_stats("emb_ann_ingest_streamed", sf_dir, q)
        finally:
            q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if not store_exists(spark, ing.vectors_path):
            return spark.createDataFrame([], "vec_id long, nrm double")
        _EMB_INGEST_CACHE[sf_dir] = ing.vectors_path
        sink = ing.vectors_path
    return (
        spark.read.schema("ref_id long, ref_emb array<double>, ref_nrm double")
        .parquet(sink)
        .select(F.col("ref_id").alias("vec_id"), F.col("ref_nrm").alias("nrm"))
    )


# NOTE: r3's emb_ann_bucket_pairs (ONE 8-plane hash table) was folded into
# emb_ann_multitable_pairs per the r3 verdict's recall demand: the measured
# top-50 recall of the single table was 0.06 — sign-LSH AND-amplification
# makes one deep table precision-only — and the multi-table query below IS
# the single-table operator at L=1 (lsh_bucket/lsh_bucket_sql stay as the
# per-table building block; the occupancy gate in test_plan_quality still
# pins them).


@query(
    "emb_ann_multitable_pairs",
    f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, embedding,
               SQRT({dot_sql("embedding", "embedding")}) AS nrm
        FROM embeddings
    ),
    keys AS MATERIALIZED (
        SELECT vec_id, unnest({lsh_table_keys_sql("embedding")}) AS bk
        FROM embeddings
    ),
    cands AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM keys a JOIN keys b ON a.bk = b.bk AND a.vec_id < b.vec_id
        GROUP BY vec_a, vec_b
    )
    SELECT vec_a, vec_b, cos
    FROM (
        SELECT vec_a, vec_b,
               {dot_sql("x.embedding", "y.embedding")} / NULLIF(x.nrm * y.nrm, 0) AS cos
        FROM cands
        JOIN base x ON x.vec_id = vec_a
        JOIN base y ON y.vec_id = vec_b
    )
    WHERE cos IS NOT NULL
    ORDER BY cos DESC, vec_a, vec_b
    LIMIT 50
    """,
    doc="[EXT] Multi-table LSH ANN pairs (r3 verdict #6): vectors index "
    "into 6 independent 4-plane hash tables (OR-amplification — measured "
    "top-50 recall 0.64 at sf0.1 vs 0.06 for one 8-plane table, gate in "
    "test_plan_quality); candidates = pairs colliding in ANY table, via an "
    "equi-join on the SKINNY (vec_id, key) index (long keys, bijective "
    "with the oracle's table:bits strings) — never all-pairs, "
    "never the 64-float payload through the candidate shuffle — deduped "
    "across tables BEFORE the exact-cosine verify join-back (norms "
    "precomputed per vector: 1 fold per pair), then global top-50.",
    tags=("similarity", "lsh", "join", "bench"),
)
def emb_ann_multitable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Zero-norm exclusion belongs HERE, on the 1-row-per-vector side, not as
    # a `cos IS NOT NULL` post-filter on the pair stream: Catalyst pushes a
    # post-filter into the verify join's condition, which re-evaluates the
    # whole 64-dim dot fold per pair (measured 4.4 s → 3.0 s warm at sf0.1
    # when removed).  With nrm > 0 on both sides the divisor is a product of
    # positive float32-vector norms (≥ ~1e-45 each), so try_divide can never
    # return NULL and the result set equals the oracle's IS NOT NULL form.
    base = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    # skinny index rows: the candidate self-join shuffles only
    # (vec_id, key) — shuffle_hash wins here for the same reason as the
    # minhash band join (both sides carry the plane-fold pipeline, rows
    # are narrow, and a broadcast of the index is impossible at scale);
    # fan_out first or the 6-table sign-fold runs on the single-file
    # scan's ONE partition on both join sides
    # column NAME, not Column: the 6-table key array builds as one memoized
    # SQL string — the Column-lambda form cost ~1.3-1.6 s of driver-side
    # py4j construction per run (r18, measured via queryExecution splits)
    keys = fan_out(emb, "vec_id").select(
        "vec_id", F.explode(lsh_table_keys_int("embedding")).alias("bk")
    ).hint("shuffle_hash")
    a, b = keys.alias("a"), keys.alias("b")
    cands = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()  # a close pair collides in MANY tables — verify once
    )
    # AQE coalesces the deduped pairs to a handful of partitions (they are
    # BYTE-small) — but the next stage folds a 64-dim cosine per pair, so
    # spread the COMPUTE back to session parallelism (r4 median 3.8 s at
    # sf0.1 — the remaining cost is the 651 k-pair candidate join + dedup
    # itself, the deliberate price of 0.64 recall on a near-random corpus;
    # at real scale pair volume keeps partitions numerous and this
    # reshuffle of skinny rows is noise)
    cands = fan_out(cands, "vec_a", "vec_b")
    x = base.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"), F.col("nrm").alias("n_a"))
    y = base.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"), F.col("nrm").alias("n_b"))
    return (
        cands.join(x, "vec_a")
        .join(y, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            # try_divide stays as defense-in-depth (ANSI DIVIDE_BY_ZERO must
            # never kill the job), but the nrm > 0 prefilter above makes a
            # NULL cos impossible — no post-filter, no duplicated fold
            F.try_divide(
                dot("e_a", "e_b"), F.col("n_a") * F.col("n_b")
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
    )


# ── product quantization (PQ / ADC) ──────────────────────────────────────

PQ_M = 16  # subspaces (EMBEDDING_DIM/PQ_M dims each)
PQ_K = 16  # centroids per sub-codebook (4-bit codes)
PQ_ITERS = 3
PQ_SAMPLE_MOD = 4  # same deterministic training-sample shape as the IVF fit
PQ_SHORTLIST = 50  # ADC candidates per query fed to the exact re-rank

#: Unit-normalized queries for the ADC stage (cosine metric ⇒ PQ runs on
#: unit vectors; the exact re-rank scores the float ORIGINALS — cosine is
#: normalization-invariant, so both stages rank in the same metric).
QUERY_BATCH_UNIT: list[list[float]] = [
    [x / math.sqrt(sum(v * v for v in q)) for x in q] for q in QUERY_BATCH
]
QUERY_BATCH_UNIT_MICRO: list[list[int]] = [
    [math.floor(x * _QUANT_SCALE) for x in q] for q in QUERY_BATCH_UNIT
]


def _pq_assign_sql(p: str, t: str, src: str, prev: str, cols: str, nd: int) -> str:
    """One argmin-assignment CTE (the _ivf_fit_parts idiom, prefixed)."""
    return f"""{p}{t} AS (
      SELECT {cols} FROM (
        SELECT e.vec_id, e.qe, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum([(e.qe[i] - c.cent[i]) * (e.qe[i] - c.cent[i])
                           FOR i IN generate_series(1, {nd})]) ASC,
                 c.cluster ASC) AS rn
        FROM {src} e CROSS JOIN {prev} c)
      WHERE rn = 1
    )"""


def _pq_fit_chain_sql(p: str, src_sample: str, src_full: str, k: int, iters: int, nd: int) -> list[str]:
    """Seeds → iters × (assign → exact floor-div update) → full-corpus
    assignment ``{p}code`` — one quantized k-means chain over (vec_id, qe)
    CTEs whose lists are ``nd`` long."""
    parts = [f"""{p}c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
             qe AS cent
      FROM (SELECT vec_id, qe FROM {src_sample} ORDER BY vec_id LIMIT {k})
    )"""]
    for t in range(1, iters + 1):
        parts.append(
            _pq_assign_sql(p, f"a{t}", src_sample, f"{p}c{t-1}", "vec_id, qe, cluster", nd)
        )
        parts.append(f"""{p}n{t} AS (
      SELECT cluster, list(cv ORDER BY dim) AS cent FROM (
        SELECT cluster, g.i AS dim,
               CAST((SUM(qe[g.i]) - ((SUM(qe[g.i]) % COUNT(*)) + COUNT(*))
                     % COUNT(*)) // COUNT(*) AS BIGINT) AS cv
        FROM {p}a{t}, generate_series(1, {nd}) g(i)
        GROUP BY cluster, g.i)
      GROUP BY cluster
    )""")
        parts.append(f"""{p}c{t} AS (
      SELECT p.cluster, COALESCE(u.cent, p.cent) AS cent
      FROM {p}c{t-1} p LEFT JOIN {p}n{t} u ON p.cluster = u.cluster
    )""")
    parts.append(
        _pq_assign_sql(p, "code", src_full, f"{p}c{iters}", "vec_id, cluster", nd)
    )
    return parts


def _pq_common_parts() -> list[str]:
    """The CTEs both PQ rows share: normalization, quantization, the m
    sub-fit chains + full-corpus codes, the ADC distance tables, and the
    float query literals for the re-rank."""
    dim, m, k, iters = EMBEDDING_DIM, PQ_M, PQ_K, PQ_ITERS
    sub = dim // m
    parts = [
        f"""WITH en AS MATERIALIZED (
      -- unit-normalize (same fixed-order dot fold + IEEE sqrt/division
      -- as the engine's l2_normalize ⇒ bit-identical doubles); zero-norm
      -- rows drop out here on both sides
      SELECT vec_id,
             [CAST(embedding[i] AS DOUBLE)
              / SQRT({dot_sql("embedding", "embedding")})
              FOR i IN generate_series(1, {dim})] AS ne
      FROM embeddings
      WHERE len(list_filter(embedding,
                x -> abs(CAST(x AS DOUBLE)) < 'infinity'::DOUBLE)) = {dim}
        AND {dot_sql("embedding", "embedding")} > 0
    ),
    eq AS MATERIALIZED (
      SELECT vec_id,
             [CAST(floor(ne[i] * {_QUANT_SCALE}) AS BIGINT)
              FOR i IN generate_series(1, {dim})] AS qe
      FROM en
    ),
    eqs AS MATERIALIZED (
      SELECT vec_id, qe FROM eq WHERE vec_id % {PQ_SAMPLE_MOD} = 0
    )"""
    ]
    for j in range(m):
        p, lo, hi = f"s{j}", j * sub + 1, (j + 1) * sub
        parts.append(
            f"{p}eqs AS MATERIALIZED (SELECT vec_id, qe[{lo}:{hi}] AS qe FROM eqs)"
        )
        parts.append(f"{p}f AS (SELECT vec_id, qe[{lo}:{hi}] AS qe FROM eq)")
        parts.extend(_pq_fit_chain_sql(p, f"{p}eqs", f"{p}f", k, iters, sub))

    qm_rows = ", ".join(
        f"({i}, [" + ", ".join(f"CAST({v} AS BIGINT)" for v in q) + "])"
        for i, q in enumerate(QUERY_BATCH_UNIT_MICRO)
    )
    parts.append(f"qm(query_id, qmv) AS (VALUES {qm_rows})")
    for j in range(m):
        p, lo = f"s{j}", j * sub + 1
        parts.append(f"""t{j} AS (
      SELECT q.query_id, c.cluster,
             list_sum([(c.cent[i] - q.qmv[{lo} + i - 1])
                       * (c.cent[i] - q.qmv[{lo} + i - 1])
                       FOR i IN generate_series(1, {sub})]) AS d2
      FROM s{j}c{iters} c CROSS JOIN qm q
    )""")
    code_cols = ", ".join(f"s{j}code.cluster AS k{j}" for j in range(m))
    code_joins = " ".join(
        f"JOIN s{j}code ON s{j}code.vec_id = s0code.vec_id" for j in range(1, m)
    )
    parts.append(
        f"codes AS (SELECT s0code.vec_id, {code_cols} FROM s0code {code_joins})"
    )
    parts.append(f"qf(query_id, qv) AS (VALUES {_query_batch_values_sql()})")
    return parts


def _pq_adc_join_sql() -> tuple[str, str]:
    """(extra t-table joins, summed-distance expression) for a ``scored``
    CTE built on ``codes JOIN t0 ON t0.cluster = codes.k0``."""
    m = PQ_M
    t_joins = " ".join(
        f"JOIN t{j} ON t{j}.cluster = codes.k{j} AND t{j}.query_id = t0.query_id"
        for j in range(1, m)
    )
    ad2 = " + ".join(f"t{j}.d2" for j in range(m))
    return t_joins, ad2


def _pq_rerank_tail_sql() -> str:
    """Final SELECT: exact-cosine re-rank of a ``short(query_id, vec_id)``
    CTE against the original float vectors, top-k per query."""
    return f"""
    SELECT CAST(query_id AS INT) AS query_id, vec_id, cos, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rnk
      FROM (
        SELECT s.query_id, s.vec_id,
               {cosine_sql("e.embedding", "q.qv")} AS cos
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN qf q ON q.query_id = s.query_id)
      WHERE cos IS NOT NULL)
    WHERE rnk <= {TOPK_PER_QUERY}
    """


def _pq_sql() -> str:
    """Full DuckDB replay of the PQ lifecycle: L2-normalize → quantize →
    per-subspace sampled k-means fits (the unrolled-CTE idiom of
    _ivf_fit_parts, one chain per subspace) → full-corpus encoding →
    per-query ADC distance tables → summed table lookups → per-query
    shortlist → EXACT cosine re-rank of the shortlist on the original
    float vectors → top-k."""
    parts = _pq_common_parts()
    t_joins, ad2 = _pq_adc_join_sql()
    parts.append(f"""scored AS (
      SELECT t0.query_id, codes.vec_id, CAST({ad2} AS BIGINT) AS ad2
      FROM codes JOIN t0 ON t0.cluster = codes.k0 {t_joins}
    )""")
    parts.append(f"""short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ad2 ASC, vec_id) AS srn
        FROM scored)
      WHERE srn <= {PQ_SHORTLIST}
    )""")
    return ",\n".join(parts) + _pq_rerank_tail_sql()


def _exact_rerank(spark: SparkSession, sf_dir: str, short: DataFrame) -> DataFrame:
    """Final stage both PQ rows share: exact cosine of the shortlist's
    (query_id, vec_id) candidates against the ORIGINAL float vectors —
    a broadcast-candidate join touching shortlist×Q rows, not the corpus —
    then per-query top-k.  One definition so the tie-break and NULL-cos
    semantics can never fork between the serving paths."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.element_at(_query_batch_expr(), F.col("query_id") + 1)
    qnorms = F.array(
        *[
            F.lit(math.sqrt(sum(float(x) * float(x) for x in q)))
            for q in QUERY_BATCH
        ]
    )
    scored = (
        emb.join(F.broadcast(short), "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.try_divide(
                dot(F.col("embedding"), qv),
                F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                * F.element_at(qnorms, F.col("query_id") + 1),
            ).alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOPK_PER_QUERY
    )


#: (codes parquet path, codebooks) per sf_dir — same build-once contract
#: as _LEARNED_INDEX_CACHE.
_PQ_CACHE: dict[str, tuple[str, list]] = {}


def pq_index(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """Build (or reuse) the PQ codes table for a corpus: per-subspace
    sampled quantized fits, full-corpus encoding, codes persisted as the
    memory-bounded serving table."""
    import os
    import tempfile

    cached = _PQ_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(cached[0]):
        return cached
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        indexable,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.pq import (
        l2_normalize,
        pq_encode,
        pq_fit,
    )

    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id").filter(
        indexable(F.col("embedding"), EMBEDDING_DIM)
    )
    # cosine metric ⇒ PQ on unit vectors (see l2_normalize's docstring)
    norm = l2_normalize(emb)
    books = pq_fit(
        norm, EMBEDDING_DIM, PQ_M, PQ_K, PQ_ITERS, sample_mod=PQ_SAMPLE_MOD
    )
    codes = pq_encode(norm, books, EMBEDDING_DIM)
    path = tempfile.mkdtemp(prefix="pq-codes-")
    codes.write.mode("overwrite").parquet(path)
    _PQ_CACHE[sf_dir] = (path, books)
    return path, books


@query(
    "emb_pq_batch_topk",
    _pq_sql(),
    doc="[EXT] Product-quantization two-stage serving (operators/pq.py, "
    f"the FAISS IVF-PQ architecture, Jégou et al. 2011): L2-normalize "
    f"(cosine metric ⇒ unit vectors make ADC's L2 ranking the cosine "
    f"ranking — unnormalized recall collapsed to ~0.1, measured), train "
    f"{PQ_M} sub-codebooks of k={PQ_K} by the sampled microunit-integer "
    f"Lloyd's ({PQ_ITERS} rounds, sample vec_id % {PQ_SAMPLE_MOD} == 0), "
    f"encode every vector to {PQ_M} 4-bit codes (~32× smaller than the "
    "float vectors), serve the query batch by asymmetric distance "
    "computation — per-query m×k exact-BIGINT subspace distance tables "
    "broadcast into ONE scan of the codes table, approx distance = sum "
    f"of table lookups by code, two-phase per-query top-{PQ_SHORTLIST} "
    "SHORTLIST — then exact-cosine re-rank of the shortlist against the "
    "original float vectors (a broadcast-candidate join touching "
    f"{PQ_SHORTLIST}×Q rows, not the corpus) for the final top-10.  "
    "Shortlist recall of the exact top-10 measured 0.7-0.9 at a 10% "
    "scan fraction on isotropic vectors (PQ's hardest case — gated in "
    "tests/test_pq.py).  The oracle replays ALL SIXTEEN sub-fits, the "
    "normalization, encoding, ADC sums and the re-rank as one CTE chain "
    "— every integer and double bit-for-bit.  BENCH NOTE: codes build "
    "caches per-process; sample 1 carries fit+encode+persist, the "
    "median reports warm two-stage serving.",
    tags=("similarity", "topk", "pq", "scale", "bench"),
)
def emb_pq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.pq import (
        pq_search_batch,
    )

    try:
        path, books = pq_index(spark, sf_dir)
    except ValueError as e:
        if "empty input" not in str(e):
            raise
        return spark.createDataFrame(
            [], "query_id int, vec_id long, cos double, rnk int"
        )
    codes = spark.read.parquet(path)
    short = pq_search_batch(
        codes, books, QUERY_BATCH_UNIT, k_top=PQ_SHORTLIST
    ).select("query_id", "vec_id")
    return _exact_rerank(spark, sf_dir, short)


# ── IVF-PQ: coarse routing + ADC within probed cells ─────────────────────

IVFPQ_NLIST = 8
IVFPQ_NPROBE = 3


def _ivfpq_sql() -> str:
    """The full FAISS IVF-PQ replay: everything `_pq_sql` replays PLUS a
    coarse full-dimension quantizer chain (prefix ``g``) over the same
    normalized microunits, per-query probe routing, and an ADC ``scored``
    restricted to each query's probed cells."""
    parts = _pq_common_parts()
    parts.extend(
        _pq_fit_chain_sql("g", "eqs", "eq", IVFPQ_NLIST, PQ_ITERS, EMBEDDING_DIM)
    )
    parts.append(f"""probes AS (
      SELECT query_id, cluster FROM (
        SELECT q.query_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum([(c.cent[i] - q.qmv[i]) * (c.cent[i] - q.qmv[i])
                           FOR i IN generate_series(1, {EMBEDDING_DIM})]) ASC,
                 c.cluster ASC) AS rn
        FROM gc{PQ_ITERS} c CROSS JOIN qm q)
      WHERE rn <= {IVFPQ_NPROBE}
    )""")
    t_joins, ad2 = _pq_adc_join_sql()
    parts.append(f"""scored AS (
      SELECT t0.query_id, codes.vec_id, CAST({ad2} AS BIGINT) AS ad2
      FROM codes
      JOIN gcode ON gcode.vec_id = codes.vec_id
      JOIN probes ON probes.cluster = gcode.cluster
      JOIN t0 ON t0.cluster = codes.k0 AND t0.query_id = probes.query_id
      {t_joins}
    )""")
    parts.append(f"""short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ad2 ASC, vec_id) AS srn
        FROM scored)
      WHERE srn <= {PQ_SHORTLIST}
    )""")
    return ",\n".join(parts) + _pq_rerank_tail_sql()


#: (codes-with-cluster path, codebooks, coarse centroids) per sf_dir.
_IVFPQ_CACHE: dict[str, tuple[str, list, list]] = {}


def ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple[str, list, list]:
    """Build (or reuse) the IVF-PQ index: the PQ codes table (shared with
    `pq_index` — same books, same normalization) joined with a coarse
    full-dimension cell assignment, persisted partitionBy(cluster) so
    probe filters are partition pruning."""
    import os
    import tempfile

    cached = _IVFPQ_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(cached[0]):
        return cached
    from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
        indexable,
        kmeans_fit_quantized,
        nearest_cluster_quantized,
        quantize_embedding,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.pq import (
        l2_normalize,
    )

    codes_path, books = pq_index(spark, sf_dir)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id").filter(
        indexable(F.col("embedding"), EMBEDDING_DIM)
    )
    norm = l2_normalize(emb)
    coarse = kmeans_fit_quantized(
        norm.filter(F.col("vec_id") % PQ_SAMPLE_MOD == 0),
        IVFPQ_NLIST,
        PQ_ITERS,
    )
    assigned = norm.select(
        "vec_id",
        nearest_cluster_quantized(
            coarse, quantize_embedding(F.col("embedding"))
        ).alias("cluster"),
    )
    codes = spark.read.parquet(codes_path)
    path = tempfile.mkdtemp(prefix="ivfpq-index-")
    (
        codes.join(assigned, "vec_id")
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )
    _IVFPQ_CACHE[sf_dir] = (path, books, coarse)
    return path, books, coarse


@query(
    "emb_ivfpq_batch_topk",
    _ivfpq_sql(),
    doc="[EXT] Full IVF-PQ serving (operators/pq.py ivfpq_search_batch — "
    "the canonical FAISS billion-scale architecture, Jégou et al. 2011): "
    f"the PQ row's normalized codes (16 sub-codebooks, 4-bit codes) "
    f"joined with a LEARNED coarse quantizer's cell assignment "
    f"(k={IVFPQ_NLIST}, same sampled microunit-integer Lloyd's), index "
    "persisted partitionBy(cluster); each query routes driver-side to "
    f"nprobe={IVFPQ_NPROBE} cells, the codes scan prunes to the union of "
    "probed cells, a broadcast (query_id, cluster) table fans rows to "
    "exactly the queries that probed them, ADC scores the survivors, "
    f"top-{PQ_SHORTLIST} shortlist → exact-cosine re-rank.  vs plain PQ: "
    f"scans ~nprobe/nlist of the codes; vs plain IVF: scores cells with "
    "table lookups instead of full-dimension folds.  The oracle replays "
    "the coarse chain AND all 16 sub-fits AND routing AND ADC AND the "
    "re-rank — bit-for-bit.  BENCH NOTE: index caches per-process; "
    "sample 1 carries both fits + persist, the median is warm pruned "
    "serving.",
    tags=("similarity", "topk", "pq", "ivf", "scale", "bench"),
)
def emb_ivfpq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.pq import (
        ivfpq_search_batch,
    )

    try:
        path, books, coarse = ivfpq_index(spark, sf_dir)
    except ValueError as e:
        if "empty input" not in str(e):
            raise
        return spark.createDataFrame(
            [], "query_id int, vec_id long, cos double, rnk int"
        )
    idx = spark.read.parquet(path)
    short = ivfpq_search_batch(
        idx, books, coarse, QUERY_BATCH_UNIT, nprobe=IVFPQ_NPROBE,
        k_top=PQ_SHORTLIST,
    ).select("query_id", "vec_id")
    return _exact_rerank(spark, sf_dir, short)


# ── PCA covariance build + power-direction projection (operators/pca.py) ─


def _pca_cov_ctes() -> str:
    """Shared DuckDB CTE block replaying second_moments +
    scaled_covariance: microunit quantization → upper-triangle integer
    moments → exact DECIMAL(38,0) scaled covariance (covut)."""
    return f"""
    q AS MATERIALIZED (
        SELECT list_transform(
                   embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {FIXED_SCALE})
                        AS BIGINT)
               ) AS qx
        FROM embeddings
    ),
    rows_i AS MATERIALIZED (
        SELECT qx, i - 1 AS i, qx[i] AS xi
        FROM q, LATERAL unnest(generate_series(1, len(qx))) AS g(i)
    ),
    prods AS MATERIALIZED (
        SELECT i, j - 1 AS j, qx[j] * xi AS p
        FROM rows_i, LATERAL unnest(generate_series(1, len(qx))) AS g(j)
        WHERE j - 1 >= i
    ),
    gram AS MATERIALIZED (
        SELECT i, j, CAST(SUM(p) AS DECIMAL(38,0)) AS gram, COUNT(*) AS n
        FROM prods GROUP BY i, j
    ),
    sums AS MATERIALIZED (
        SELECT i, CAST(SUM(xi) AS BIGINT) AS s FROM rows_i GROUP BY i
    ),
    covut AS MATERIALIZED (
        SELECT g.i, g.j,
               CAST(CAST(g.n AS DECIMAL(38,0)) * g.gram
                    - CAST(si.s AS DECIMAL(38,0)) * CAST(sj.s AS DECIMAL(38,0))
                    AS DECIMAL(38,0)) AS cov
        FROM gram g
        JOIN sums si ON si.i = g.i
        JOIN sums sj ON sj.i = g.j
    )
    """


@query(
    "emb_pca_covariance",
    f"""
    WITH {_pca_cov_ctes()}
    SELECT i, j, CAST(cov AS VARCHAR) AS cov_scaled FROM covut
    """,
    doc="[EXT] PCA covariance build (operators/pca.py second_moments + "
    "scaled_covariance): the distributed pass of the low-rank projection "
    "fit — microunit-quantized vectors (the QUANT_SCALE contract shared "
    "with the quantized k-means), upper-triangle gram matrix and per-"
    "dimension sums as exact INTEGER partial aggregates, scaled "
    "covariance n*gram - s_i*s_j in DECIMAL(38,0) (the division-free "
    "n^2-scaled covariance; BIGINT would overflow the n*gram product at "
    "corpus scale), emitted as STRING: |cov_scaled| exceeds 2^53 already "
    "at sf0.1, so any float bridge (Spark Decimal vs DuckDB float64 on "
    "the pandas hop) is lossy — the decimal digits ARE the value.  "
    "2080 rows for d=64 — the d x d frame that reaches "
    "the driver for the numpy eigensolve in pca_fit.  Scale shape: the "
    "gram explode partial-aggregates per partition, so the shuffle "
    "carries <= d^2 pre-summed cells per partition regardless of N (the "
    "CMS build shape); the eigensolve is driver-side O(d^3) on metadata. "
    "The projection itself (pca_project) is pytest-pinned (orthonormal "
    "components, descending eigenvalues, variance-matches-eigenvalue, "
    "deterministic sign) — LAPACK output is not cross-engine replayable.",
    tags=("similarity", "pca", "bench"),
)
def emb_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.pca import (
        scaled_covariance,
        second_moments,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    cov = scaled_covariance(second_moments(emb))
    # STRING, not DOUBLE: |cov_scaled| passes 2^53 at sf0.1, and the
    # pandas bridge otherwise delivers Decimal (Spark) vs float64
    # (DuckDB) to the hasher — representation drift on equal values.
    return cov.select(
        "i", "j", F.col("cov_scaled").cast("string").alias("cov_scaled")
    )


_POWER_TOPK = 20

#: per-process memo of the collected scaled-covariance rows, keyed by
#: corpus path — the PCA family (power projection, deflated neighbors)
#: all consume the SAME <= d(d+1)/2 metadata rows, and without the memo
#: each row re-ran the full corpus scan per call (the r11 verdict's
#: "compose, don't recompute": 3.9 s/run redundant at sf0.1 bench).
#: Safe because the testdata corpora are immutable per process — the
#: same contract as the IVF/PQ per-process index caches above.  The
#: STREAMING analogue is operators/pca.py's moments store, which keeps
#: these same cells current across micro-batches without re-scans.
_COV_ROWS_MEMO: dict[str, list] = {}


def _cov_rows_cached(spark: SparkSession, sf_dir: str) -> list:
    from kafka_streams_dead_letter_publishing_spark.operators.pca import (
        scaled_covariance,
        second_moments,
    )

    key = str(sf_dir)
    if key not in _COV_ROWS_MEMO:
        emb = load_table(spark, sf_dir, "embeddings").select("embedding")
        _COV_ROWS_MEMO[key] = scaled_covariance(second_moments(emb)).collect()
    return _COV_ROWS_MEMO[key]


def _pca_power_oracle() -> str:
    """DuckDB replay of the power-direction projection: the covariance
    CTEs feed K unrolled exact-integer power-iteration steps (HUGEINT —
    the matvec intermediates reach ~1e24, far past BIGINT but far under
    int128), then every vector projects onto the final fixed-point
    direction.  The rescale division is sign-split (divide magnitudes,
    reapply sign) because DuckDB ``//`` truncates toward zero while
    Python ``//`` floors — they disagree exactly on negative
    numerators."""
    from kafka_streams_dead_letter_publishing_spark.operators.pca import (
        POWER_ITERS,
        POWER_SCALE_BITS,
    )

    half = 1 << POWER_SCALE_BITS
    steps = []
    prev = "v0"
    for k in range(1, POWER_ITERS + 1):
        steps.append(f"""
    m{k} AS MATERIALIZED (
        SELECT c.i, SUM(c.cov * v.v) AS w
        FROM covfull c JOIN {prev} v ON v.j = c.j GROUP BY c.i
    ),
    s{k} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS mx FROM m{k}),
    v{k} AS MATERIALIZED (
        SELECT i AS j,
               CASE WHEN w < 0 THEN -((-w * {half}) // mx)
                    ELSE (w * {half}) // mx END AS v
        FROM m{k}, s{k}
    )""")
        prev = f"v{k}"
    return f"""
    WITH {_pca_cov_ctes()},
    covfull AS MATERIALIZED (
        SELECT i, j, CAST(cov AS HUGEINT) AS cov FROM covut
        UNION ALL
        SELECT j AS i, i AS j, CAST(cov AS HUGEINT) AS cov
        FROM covut WHERE i <> j
    ),
    v0 AS MATERIALIZED (SELECT DISTINCT i AS j, CAST(1 AS HUGEINT) AS v FROM covfull),
    {",".join(steps)},
    pr AS MATERIALIZED (
        SELECT e.vec_id, CAST(SUM(e.xi * y.v) AS BIGINT) AS proj
        FROM (
            SELECT vec_id, i - 1 AS i, qx2[i] AS xi
            FROM (
                SELECT vec_id,
                       list_transform(
                           embedding,
                           x -> CAST(floor(CAST(x AS DOUBLE) * {FIXED_SCALE})
                                AS BIGINT)
                       ) AS qx2
                FROM embeddings
            ), LATERAL unnest(generate_series(1, len(qx2))) AS g(i)
        ) e
        JOIN {prev} y ON y.j = e.i
        GROUP BY e.vec_id
    )
    SELECT vec_id, proj FROM pr
    ORDER BY ABS(proj) DESC, vec_id
    LIMIT {_POWER_TOPK}
    """


@query(
    "emb_pca_power_projection",
    _pca_power_oracle(),
    doc="[EXT] PCA composed into the similarity stack (operators/pca.py "
    "power_direction + power_project): the distributed covariance build "
    "feeds a driver-side EXACT-INTEGER power iteration (K=4 steps, "
    "fixed-point rescale to 2^20 after each — O(K*d^2) on the d x d "
    "metadata; Python bigints, replayed bit-for-bit by the oracle's "
    "HUGEINT CTE chain, unlike pca_fit's LAPACK eigensolve which is NOT "
    "cross-engine replayable), and every embedding projects onto the "
    "resulting top-principal direction with a folded-literal zip_with "
    "dot product — per-row narrow, JVM-side, no shuffle.  Output: the "
    f"{_POWER_TOPK} most-extreme vectors along the dominant variance "
    "axis (|proj| DESC, vec_id tie-break) — the PC1-outlier probe a "
    "curation pipeline runs to find corpus-skewing documents.  Scale "
    "shape: covariance is the <= d^2-cell partial agg (CMS shape); the "
    "projection scan is embarrassingly parallel; top-k is "
    "TakeOrderedAndProject (per-partition heads + driver merge, no "
    "window, no single-partition exchange).",
    tags=("similarity", "pca", "bench"),
)
def emb_pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.pca import (
        power_direction,
        power_project,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    direction = power_direction(_cov_rows_cached(spark, sf_dir))
    if not direction:
        return spark.createDataFrame([], "vec_id long, proj long")
    proj = power_project(emb, direction)
    return (
        proj.withColumn("_apj", F.abs(F.col("proj")))
        .orderBy(F.desc("_apj"), F.asc("vec_id"))
        .limit(_POWER_TOPK)
        .select("vec_id", "proj")
    )


# ── r-dim exact-integer PCA (deflation) + projected-space neighbors ──────

PCA_DEFL_R = 3
PCA_DEFL_TOPK = 10


def _pca_defl_ctes(r: int) -> tuple[str, list[str]]:
    """(CTE block, per-direction final table names) replaying
    ``operators.pca.power_directions`` in DuckDB HUGEINT: per direction
    t, K unrolled matvec+rescale steps, each followed by integer
    Gram-Schmidt projections against the t prior directions (num*u_i //
    den per element, sign-split trunc division) and a second rescale —
    the exact Python sequence, so the chain is bit-for-bit."""
    from kafka_streams_dead_letter_publishing_spark.operators.pca import (
        POWER_ITERS,
        POWER_SCALE_BITS,
    )

    half = 1 << POWER_SCALE_BITS
    blocks: list[str] = []
    dir_names: list[str] = []
    for t in range(r):
        prev = f"t{t}v0"
        blocks.append(
            f"{prev} AS MATERIALIZED (SELECT DISTINCT i AS j, CAST(1 AS HUGEINT) AS v "
            "FROM covfull)"
        )
        for k in range(1, POWER_ITERS + 1):
            blocks.append(f"""
    t{t}m{k} AS MATERIALIZED (
        SELECT c.i, SUM(c.cov * v.v) AS w
        FROM covfull c JOIN {prev} v ON v.j = c.j GROUP BY c.i
    ),
    t{t}s{k} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS mx FROM t{t}m{k}),
    t{t}r{k} AS MATERIALIZED (
        SELECT i AS j,
               CASE WHEN w < 0 THEN -((-w * {half}) // mx)
                    ELSE (w * {half}) // mx END AS v
        FROM t{t}m{k}, t{t}s{k}
    )""")
            prev = f"t{t}r{k}"
            for u in range(t):
                blocks.append(f"""
    t{t}n{k}u{u} AS MATERIALIZED (
        SELECT SUM(r.v * d.v) AS num, GREATEST(SUM(d.v * d.v), 1) AS den
        FROM {prev} r JOIN {dir_names[u]} d ON d.j = r.j
    ),
    t{t}o{k}u{u} AS MATERIALIZED (
        SELECT r.j,
               r.v - CASE WHEN n.num * d.v < 0
                          THEN -((-(n.num * d.v)) // n.den)
                          ELSE (n.num * d.v) // n.den END AS v
        FROM {prev} r JOIN {dir_names[u]} d ON d.j = r.j, t{t}n{k}u{u} n
    )""")
                prev = f"t{t}o{k}u{u}"
            blocks.append(f"""
    t{t}x{k} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(v)), 1) AS mx FROM {prev}),
    t{t}f{k} AS MATERIALIZED (
        SELECT j, CASE WHEN v < 0 THEN -((-v * {half}) // mx)
                       ELSE (v * {half}) // mx END AS v
        FROM {prev}, t{t}x{k}
    )""")
            prev = f"t{t}f{k}"
        dir_names.append(prev)
    return ",".join(blocks), dir_names


def _pca_deflated_oracle() -> str:
    defl, dirs = _pca_defl_ctes(PCA_DEFL_R)
    p_cols = ", ".join(
        f"CAST(SUM(e.xi * y{t}.v) AS BIGINT) AS p{t}"
        for t in range(PCA_DEFL_R)
    )
    dir_joins = " ".join(
        f"JOIN {dirs[t]} y{t} ON y{t}.j = e.i" for t in range(PCA_DEFL_R)
    )
    dist = " + ".join(
        f"CAST(p.p{t} - q.p{t} AS HUGEINT) * CAST(p.p{t} - q.p{t} AS HUGEINT)"
        for t in range(PCA_DEFL_R)
    )
    return f"""
    WITH {_pca_cov_ctes()},
    covfull AS MATERIALIZED (
        SELECT i, j, CAST(cov AS HUGEINT) AS cov FROM covut
        UNION ALL
        SELECT j AS i, i AS j, CAST(cov AS HUGEINT) AS cov
        FROM covut WHERE i <> j
    ),
    {defl},
    expl AS MATERIALIZED (
        SELECT vec_id, i - 1 AS i,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * {FIXED_SCALE})
                    AS BIGINT) AS xi
        FROM embeddings,
             LATERAL unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    pr AS MATERIALIZED (
        SELECT e.vec_id, {p_cols}
        FROM expl e {dir_joins}
        GROUP BY e.vec_id
    ),
    qv(query_id, emb) AS (VALUES {_query_batch_values_sql()}),
    qexpl AS MATERIALIZED (
        SELECT query_id, i - 1 AS i,
               CAST(floor(CAST(emb[i] AS DOUBLE) * {FIXED_SCALE})
                    AS BIGINT) AS xi
        FROM qv, LATERAL unnest(generate_series(1, len(emb))) AS g(i)
    ),
    qp AS MATERIALIZED (
        SELECT e.query_id, {p_cols.replace('e.xi', 'e.xi')}
        FROM qexpl e {dir_joins}
        GROUP BY e.query_id
    ),
    scored AS MATERIALIZED (
        SELECT q.query_id, p.vec_id, {dist} AS dist
        FROM pr p CROSS JOIN qp q
    )
    SELECT CAST(query_id AS INT) AS query_id, vec_id,
           CAST(dist AS VARCHAR) AS dist, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT query_id, vec_id, dist,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY dist, vec_id
               ) AS rnk
        FROM scored
    )
    WHERE rnk <= {PCA_DEFL_TOPK}
    """


@query(
    "emb_pca_deflated_neighbors",
    _pca_deflated_oracle(),
    doc="[EXT] The projected-space similarity route, oracled END-TO-END "
    "(r11 verdict #1): top-r principal directions via exact-integer "
    "power iteration with Gram-Schmidt DEFLATION "
    "(operators/pca.py power_directions — r chained HUGEINT CTE blocks "
    "in the oracle, bit-for-bit, where pca_fit's LAPACK eigensolve is "
    "not replayable), every embedding projected onto all r directions "
    "in ONE corpus pass (power_project_multi: folded-literal zip_with "
    "dot products, per-row narrow, JVM-side), then exact-integer "
    "squared-L2 nearest neighbors in the r-dim projected space for the "
    "standing literal query batch (the queries project DRIVER-side "
    "through the same integer arithmetic).  dist <= r*2^96 rides "
    "DECIMAL(38,0)/HUGEINT and is emitted as STRING (past 2^53 the "
    "pandas bridge drifts on equal values).  Scale shape: covariance "
    "is the <= d^2-cell partial agg (memoized per process across the "
    "PCA family); deflation is O(r*K*d^2) driver metadata work; the "
    "projection+distance scan is embarrassingly parallel with "
    "TWO-PHASE top-k per query (partition-local row_number, then a "
    "global rank over <= k*P survivors — never an N*Q shuffle into Q "
    "reducers).  This is the SemDeDup/IVF pre-reduction route: cluster "
    "or dedup in r dims instead of d.",
    tags=("similarity", "pca", "topk", "bench"),
)
def emb_pca_deflated_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    from pyspark.sql import Window

    from kafka_streams_dead_letter_publishing_spark.operators.pca import (
        power_directions,
        power_project_multi,
    )

    _empty = "query_id int, vec_id long, dist string, rnk int"
    dirs = power_directions(_cov_rows_cached(spark, sf_dir), PCA_DEFL_R)
    if not dirs:
        return spark.createDataFrame([], _empty)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )
    proj = power_project_multi(emb, dirs)
    # the literal query batch projects DRIVER-side with the same exact
    # integer arithmetic the oracle replays (floor-quantize, then the
    # bigint dot product against each fixed-point direction)
    qproj = []
    for q in QUERY_BATCH:
        qx = [_math.floor(x * FIXED_SCALE) for x in q]
        qproj.append(
            [sum(a * b for a, b in zip(qx, d)) for d in dirs]
        )
    qlit = F.array(
        *[
            F.array(*[F.lit(int(p)).cast("long") for p in qp])
            for qp in qproj
        ]
    )
    parr = F.array(*[F.col(f"p{t}") for t in range(PCA_DEFL_R)])
    scored = (
        proj.select("vec_id", parr.alias("parr"))
        .select("vec_id", "parr", F.posexplode(qlit).alias("query_id", "qp"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "parr",
                    "qp",
                    lambda a, b: (a - b).cast("decimal(19,0)")
                    * (a - b).cast("decimal(19,0)"),
                ),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    # two-phase top-k (the emb_multi_query_topk shape): local winners
    # per (physical partition, query), exact rank over <= k*P survivors
    staged = scored.withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("pid", "query_id").orderBy(
        F.asc("dist"), F.asc("vec_id")
    )
    local = (
        staged.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= PCA_DEFL_TOPK)
        .drop("pid", "rn")
    )
    w_global = Window.partitionBy("query_id").orderBy(
        F.asc("dist"), F.asc("vec_id")
    )
    return (
        local.withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= PCA_DEFL_TOPK)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            "vec_id",
            F.col("dist").cast("string").alias("dist"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ── semantic decontamination (the n-gram decontaminate family's
#    embedding-space twin) ─────────────────────────────────────────────────

SEMDECON_EVERY = 37  # testdata stand-in for the fixed external benchmark
SEMDECON_TAU = 0.85


@query(
    "emb_semantic_decontaminated",
    f"""
    WITH ev AS (
        SELECT vec_id AS eval_id,
               [CAST(embedding[i] AS DOUBLE)
                FOR i IN generate_series(1, {EMBEDDING_DIM})] AS fe
        FROM embeddings WHERE vec_id % {SEMDECON_EVERY} = 0
    ),
    corpus AS (
        SELECT vec_id,
               [CAST(embedding[i] AS DOUBLE)
                FOR i IN generate_series(1, {EMBEDDING_DIM})] AS fe
        FROM embeddings
        UNION ALL
        SELECT vec_id + {SEMDEDUP_TWIN_OFFSET},
               [CAST(embedding[i] AS DOUBLE)
                + CASE WHEN i = 1 THEN CAST('{SEMDEDUP_EPS}' AS DOUBLE)
                       ELSE CAST(0 AS DOUBLE) END
                FOR i IN generate_series(1, {EMBEDDING_DIM})]
        FROM embeddings
        WHERE vec_id % {2 * SEMDECON_EVERY} = 0
    ),
    hits AS (
        SELECT c.vec_id, e.eval_id,
               {cosine_sql('c.fe', 'e.fe')} AS cos
        FROM corpus c CROSS JOIN ev e
        WHERE {cosine_sql('c.fe', 'e.fe')} >= CAST('{SEMDECON_TAU!r}' AS DOUBLE)
    )
    SELECT vec_id, eval_id, cos FROM (
        SELECT vec_id, eval_id, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cos DESC, eval_id
               ) AS rn
        FROM hits
    ) WHERE rn = 1
    """,
    doc="[EXT] Semantic decontamination — the embedding-space twin of the "
    "n-gram eval-overlap gate (operators/decontaminate.py): a corpus "
    "vector is CONTAMINATED if it is cosine-similar (tau=0.85) to any "
    "vector of the eval benchmark; paraphrased or re-embedded eval "
    "leakage that shares no 5-gram still lands here (the gap Gopher/GPT-3 "
    "style n-gram decontamination is known to miss).  The eval set is "
    f"the deterministic vec_id % {SEMDECON_EVERY} slice — a testdata "
    "stand-in for a FIXED external benchmark (benchmark-sized by "
    "definition, so the broadcast crossJoin is O(N x |benchmark|) with a "
    "constant benchmark factor: the emb_multi_query_topk batch shape, "
    "embarrassingly parallel, no shuffle).  Verbatim leaks flag at "
    "cos=1.0 (the eval rows themselves, present in the corpus), near "
    "leaks below; each flagged vector reports its argmax eval partner "
    "(ties: lowest eval_id).  At production scale the same predicate "
    "composes with the LSH-bucketed admission filter "
    "(operators/ann_filter.py) instead of the brute-force scan — this "
    "row pins the SEMANTICS both paths must agree on.  Planted "
    "PARAPHRASE leaks (the SemDeDup twin construction: +0.05 on one "
    "component of every second eval vector, cos~0.9999) flag through "
    "the near-match path alongside the verbatim cos=1.0 self-leaks — "
    "both leak classes exercised, nothing natural flags (max natural "
    "pair cos 0.513).  Cosines are the engine-wide IEEE-pinned "
    "left-to-right folds, bit-identical in DuckDB.",
    tags=("similarity", "decontamination", "eval"),
)
def emb_semantic_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fe = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    eps = F.lit(float(SEMDEDUP_EPS))
    leaks = emb.filter(F.col("vec_id") % (2 * SEMDECON_EVERY) == 0).select(
        (F.col("vec_id") + SEMDEDUP_TWIN_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double") + F.when(i == 0, eps).otherwise(F.lit(0.0)),
        ).alias("cfe"),
    )
    corpus = emb.select("vec_id", fe.alias("cfe")).unionByName(leaks)
    ev = emb.filter(F.col("vec_id") % SEMDECON_EVERY == 0).select(
        F.col("vec_id").alias("eval_id"), fe.alias("efe")
    )
    hits = (
        corpus.crossJoin(F.broadcast(ev))
        .withColumn("cos", cosine(F.col("cfe"), F.col("efe")))
        .filter(F.col("cos") >= F.lit(float(SEMDECON_TAU)))
    )
    best = hits.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos"), (-F.col("eval_id")).alias("neg"))).alias("_b")
    )
    return best.select(
        "vec_id",
        (-F.col("_b.neg")).alias("eval_id"),
        F.col("_b.cos").alias("cos"),
    )
