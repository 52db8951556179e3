"""PCA low-rank projection for the embedding corpus ([EXT]).

Dimensionality reduction is the standard pre-step for embedding dedup /
ANN at scale (SemDeDup-style pipelines project to 32-64 dims before
clustering; IVF-PQ recall improves after decorrelation).  The Spark-first
split mirrors the k-means fit (operators/kmeans.py): the DATA-sized pass
is an exact-integer partial aggregate the oracle can replay bit-for-bit,
and only a METADATA-sized d x d matrix reaches the driver, where numpy's
symmetric eigensolver runs (d <= a few hundred; the eigensolve is O(d^3)
driver work, never cluster work).

Exactness contract: embeddings quantize to microunit BIGINTs
(floor(x * 1e6) — the QUANT_SCALE resolution shared with the quantized
k-means and FIXED_SCALE serving), so the second-moment (gram) matrix and
per-dimension sums are INTEGER sums — shuffle-order-independent, identical
in Spark and DuckDB.  The scaled covariance ``N * gram_ij - s_i * s_j``
(the division-free form of N^2 * cov) is computed in DECIMAL(38,0): the
N * gram product overflows BIGINT past ~1e18 (reached at corpus scale),
while DECIMAL(38,0) carries it exactly in both engines.

The eigensolve itself is NOT cross-engine replayable (LAPACK), so the
registry row pins the covariance build (the distributed work) and pytest
pins the projection's invariants: orthonormal components, descending
eigenvalues, per-component projected variance == eigenvalue, and the
deterministic sign convention (largest-|loading| coordinate positive —
eigenvectors are sign-ambiguous and LAPACK's choice is build-dependent).

Scale shape: the gram build explodes each vector to its d(d+1)/2 upper-
triangle products and partial-aggregates per partition — the shuffle
carries <= d^2 pre-summed cells per partition regardless of N (the CMS
build shape).  The projection is a broadcast d x r literal matrix applied
with zip_with/aggregate — JVM-side, no UDFs, no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.operators.kmeans import (
    QUANT_SCALE,
    quantize_embedding,
)
from kafka_streams_dead_letter_publishing_spark.operators.stores import (
    allocate_epoch,
    commit_epoch,
    completed_epochs,
    read_completed,
)

_DEC = "decimal(38,0)"
MOMENTS_STATS_SCHEMA = "n_rows bigint, epoch bigint"


#: isqrt(2^63 - 1): a quantized component beyond this overflows q*q in a
#: Java long, which ANSI Spark (the 4.x default) raises on — the Arrow
#: path raises the same class of error instead of silently wrapping
_Q_OVERFLOW = 3_037_000_499


def _second_moment_partials(batches):
    """mapInArrow body: per-TASK exact-integer gram/sum partials.

    For each distinct vector length L seen in the task, accumulates the
    full L x L integer gram matrix with numpy int64 matmuls (chunked so a
    chunk's int64 partial sum provably cannot overflow; the running
    accumulator is a Python-int object array, exact at any row count) and
    the per-dimension element sums.  Emits one row per upper-triangle cell
    (i, j, gram-partial, n-rows-of-this-L) plus per-dimension sum rows
    marked ``j = -1`` — the caller's single groupBy((i, j)) reduces both.

    Parity contract with the explode formulation this replaces (pinned by
    tests/test_pca.py::test_second_moments_arrow_parity): NULL list rows
    and empty vectors contribute nothing (posexplode emitted no rows for
    them); NULL elements contribute 0 to gram and s but still count in n
    (posexplode emitted the position with a NULL product, SUM skipped it,
    COUNT did not); ragged lengths accumulate per-length so cell (i, j)'s
    n is the number of rows with length > j, exactly as before."""
    import numpy as np
    import pyarrow as pa

    accs: dict[int, list] = {}  # L -> [n_rows, S (object, L), G (object, L x L)]

    def acc(length: int) -> list:
        a = accs.get(length)
        if a is None:
            a = [
                0,
                np.zeros(length, dtype=object),
                np.zeros((length, length), dtype=object),
            ]
            accs[length] = a
        return a

    def add_matrix(X: "np.ndarray") -> None:
        rows, length = X.shape
        a = acc(length)
        maxabs = int(np.abs(X).max(initial=0))
        if maxabs > _Q_OVERFLOW:
            raise ArithmeticError(
                "second_moments: quantized component magnitude "
                f"{maxabs} overflows long multiplication (ANSI parity)"
            )
        # chunk so an int64 chunk-sum cannot overflow: step * maxabs^2
        # <= 2^62 (and step * maxabs <= 2^62 / maxabs for the S sums)
        step = 100_000 if maxabs <= 2_000_000 else max(
            1, (1 << 62) // (maxabs * maxabs)
        )
        for s0 in range(0, rows, step):
            c = X[s0 : s0 + step]
            a[2] += c.T @ c
            a[1] += c.sum(axis=0, dtype=np.int64)
        a[0] += rows

    for rb in batches:
        arr = rb.column(0)
        n_rows = len(arr)
        if n_rows == 0:
            continue
        offs = arr.offsets.to_numpy()
        lens = np.diff(offs)
        uniform = (
            arr.null_count == 0
            and arr.values.null_count == 0
            and n_rows > 0
            and lens.min(initial=0) == lens.max(initial=0)
            and lens[0] > 0
            and offs[-1] - offs[0] == n_rows * lens[0]
        )
        if uniform:
            vals = arr.values.to_numpy(zero_copy_only=False)
            X = np.asarray(
                vals[offs[0] : offs[-1]], dtype=np.int64
            ).reshape(n_rows, int(lens[0]))
            add_matrix(X)
        else:
            # rare shape (null rows/elements, ragged lengths): exact
            # per-row fallback with posexplode-parity null handling
            for row in arr.to_pylist():
                if row is None or len(row) == 0:
                    continue
                x = np.array(
                    [0 if v is None else v for v in row], dtype=np.int64
                )
                add_matrix(x.reshape(1, len(x)))

    ii, jj, gg, ss, nn = [], [], [], [], []
    for length, (n_rows, S, G) in sorted(accs.items()):
        for i in range(length):
            ii.append(i)
            jj.append(-1)
            gg.append(0)
            ss.append(int(S[i]))
            nn.append(0)
            for j in range(i, length):
                ii.append(i)
                jj.append(j)
                gg.append(int(G[i][j]))
                ss.append(0)
                nn.append(n_rows)
    if ii:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ii, type=pa.int32()),
                pa.array(jj, type=pa.int32()),
                pa.array(gg, type=pa.decimal128(38, 0)),
                pa.array(ss, type=pa.int64()),
                pa.array(nn, type=pa.int64()),
            ],
            names=["i", "j", "gram", "s", "n"],
        )


def second_moments(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(i, j, gram, s_i, s_j, n) for the upper triangle i <= j — every
    value an exact integer aggregate of the microunit-quantized vectors.

    ``gram`` = sum of qx_i * qx_j (DECIMAL(38,0) — the per-row products
    are ~1e12, so a BIGINT total overflows around 1e7 rows); ``s_i``/
    ``s_j`` the per-dimension BIGINT sums (|x| <= 1 keeps them < n * 1e6,
    safe to ~9e12 rows); ``n`` the row count.  The scaled covariance
    ``n*gram - s_i*s_j`` is left to the caller so this one frame serves
    both the covariance build and mean extraction.

    r17 optimization (guide §4.2 / §8): the d(d+1)/2-per-row posexplode
    (N x 2,080 generated rows at d=64, each paying a DECIMAL cast before
    the partial aggregate — and generated TWICE, once under the gram
    aggregate and once under the per-dimension sums, because the two
    aggregates share no exchange) is replaced by one ``mapInArrow`` pass
    that computes each task's full integer gram with numpy int64 matmuls
    and emits <= d(d+3)/2 partial rows per task.  The shuffle carries the
    same <= d^2 pre-summed cells per partition; the values are exact
    integers, bit-identical to the explode formulation (parity pinned by
    tests/test_pca.py).  Gram partials and dimension sums ride ONE
    aggregation (sum rows marked j = -1), so the scan and the Arrow pass
    run once and the two consumers split the 2,080-row aggregate."""
    q = emb.select(quantize_embedding(F.col(vec_col)).alias("qx"))
    parts = q.mapInArrow(
        _second_moment_partials,
        "i int, j int, gram decimal(38,0), s long, n long",
    )
    # persist the <= d(d+3)/2-row aggregate: the gram rows and BOTH
    # dimension-sum joins read it, and the j-filters otherwise push below
    # the aggregate and defeat exchange reuse — without the barrier the
    # scan + Arrow gram pass executed three times (observed in the plan)
    agg = parts.groupBy("i", "j").agg(
        F.sum("gram").cast(_DEC).alias("gram"),
        F.sum("s").cast("long").alias("s"),
        F.sum("n").cast("long").alias("n"),
    ).persist()
    gram = agg.filter(F.col("j") >= 0).select("i", "j", "gram", "n")
    sums = agg.filter(F.col("j") == -1).select("i", "s")
    return (
        gram.join(F.broadcast(sums.withColumnRenamed("s", "s_i")), "i")
        .join(
            F.broadcast(
                sums.withColumnRenamed("s", "s_j").withColumnRenamed("i", "j")
            ),
            "j",
        )
        .select("i", "j", "gram", "s_i", "s_j", "n")
    )


def scaled_covariance(moments: DataFrame) -> DataFrame:
    """(i, j, cov_scaled) upper triangle: ``n*gram - s_i*s_j`` in exact
    DECIMAL(38,0) — equal to n^2 * Cov_ij in microunit^2 units."""
    return moments.select(
        "i",
        "j",
        (
            F.col("n").cast(_DEC) * F.col("gram").cast(_DEC)
            - F.col("s_i").cast(_DEC) * F.col("s_j").cast(_DEC)
        ).alias("cov_scaled"),
    )


@dataclass
class PcaModel:
    mean: list[float]  # unit space
    components: list[list[float]]  # r rows of d loadings, orthonormal
    eigenvalues: list[float]  # descending, unit^2 space
    n: int

    @property
    def r(self) -> int:
        return len(self.components)

    @property
    def d(self) -> int:
        return len(self.mean)


def pca_fit(emb: DataFrame, r: int, vec_col: str = "embedding") -> PcaModel:
    """Fit top-``r`` principal components.  One distributed integer pass
    (second_moments) + a d x d driver eigensolve."""
    return _fit_from_rows(second_moments(emb, vec_col).collect(), r)


def _fit_from_rows(rows, r: int) -> PcaModel:
    """Driver eigensolve from collected second-moment rows — shared by
    the one-shot fit and the streamed-store fit."""
    import numpy as np

    if not rows:
        raise ValueError("pca_fit: empty embedding corpus")
    n = rows[0].n
    d = max(row.j for row in rows) + 1
    gram = np.zeros((d, d), dtype=np.float64)
    s = np.zeros(d, dtype=np.float64)
    for row in rows:
        gram[row.i, row.j] = row.gram
        gram[row.j, row.i] = row.gram
        if row.i == row.j:
            s[row.i] = row.s_i
    # covariance in unit^2 space from the exact integer moments
    cov = (gram / n - np.outer(s, s) / (n * n)) / (QUANT_SCALE * QUANT_SCALE)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:r]
    comps = []
    for k in order:
        v = vecs[:, k]
        # deterministic sign: the largest-|loading| coordinate positive
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return PcaModel(
        mean=[float(x) for x in s / n / QUANT_SCALE],
        components=comps,
        eigenvalues=[float(vals[k]) for k in order],
        n=int(n),
    )


def _dot_centered(vec_col: Column, comp: list[float], mean: list[float]) -> Column:
    """JVM-side (x - mean) . comp via zip_with + aggregate — no UDFs."""
    c = F.array(*[F.lit(float(v)) for v in comp])
    m = F.array(*[F.lit(float(v)) for v in mean])
    centered = F.zip_with(
        vec_col.cast("array<double>"), m, lambda x, mu: x - mu
    )
    prods = F.zip_with(centered, c, lambda x, w: x * w)
    return F.aggregate(
        prods, F.lit(0.0), lambda acc, p: acc + p
    )


# ── streamed moments store (the covariance's ingest twin) ────────────────
#
# Second moments are ASSOCIATIVE integer sums (gram cells, per-dimension
# sums, row counts), so the covariance — and everything built on it:
# pca_fit, power_direction, the variance-explained gate that decides
# whether PCA pre-reduction is worth running (SCALE.md r11) — can stay
# current on a STREAMING corpus by appending per-batch partial cells,
# never re-scanning.  Commit: the epoch contract of operators/stores.py
# (partial tables ``cells`` and ``sums``, a running n_rows total in the
# stats row).


def moments_append(
    batch_df: DataFrame, path: str, vec_col: str = "embedding"
) -> int:
    """Append one micro-batch's second-moment partial cells to the
    persisted store and advance the epoch (returned).  Layout:
    ``{path}/cells`` (i, j, gram DECIMAL(38,0), n, epoch) upper-triangle
    per-batch partials, ``{path}/sums`` (i, s, epoch), ``{path}/stats``
    one running (n_rows, epoch) row per epoch written LAST.  Appended
    rows are new rows — replays double-count, exactly as in the vector
    stores."""
    spark = batch_df.sparkSession
    ep = allocate_epoch(spark, path, ("cells", "sums"))
    # one materialization feeds the cells, the sums, AND the row count —
    # a source with non-stable ordering can't make them disagree (and
    # the quantize pass runs once, not three times)
    q = batch_df.select(
        quantize_embedding(F.col(vec_col)).alias("qx")
    ).localCheckpoint(eager=True)
    batch_n = q.count()
    if not batch_n:
        return ep.current
    rows_i = q.select("qx", F.posexplode("qx").alias("i", "xi"))
    prods = rows_i.select(
        "i",
        "xi",
        F.posexplode(F.transform("qx", lambda xj: xj * F.col("xi"))).alias(
            "j", "p"
        ),
    ).filter(F.col("j") >= F.col("i"))
    cells = prods.groupBy("i", "j").agg(
        F.sum(F.col("p").cast(_DEC)).cast(_DEC).alias("gram"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sums = rows_i.groupBy("i").agg(F.sum("xi").cast("long").alias("s"))
    base_n = 0 if ep.newest is None else ep.newest.n_rows
    commit_epoch(
        spark, path, ep.new, {"cells": cells, "sums": sums},
        (base_n + batch_n, ep.new), MOMENTS_STATS_SCHEMA,
    )
    return ep.new


def moments_read(spark, path: str) -> DataFrame:
    """Reconstruct the :func:`second_moments` frame from the streamed
    store — per-(i,j) DECIMAL gram and count summed over every COMPLETE
    epoch (epoch-SET gate: only epochs that have a stats row; orphans
    from a crashed append are invisible even if a later retry allocated
    past them), joined to the per-dimension sums.  Bit-identical to a
    one-shot ``second_moments`` over the same rows (integer sums are
    order-free; test-pinned), so ``scaled_covariance``, ``pca_fit`` and
    ``power_direction`` compose unchanged."""
    _, epochs = completed_epochs(spark, path, "moments_read")
    gram = (
        read_completed(spark, path, "cells", epochs)
        .groupBy("i", "j")
        .agg(
            F.sum("gram").cast(_DEC).alias("gram"),
            F.sum("n").cast("long").alias("n"),
        )
    )
    sums = (
        read_completed(spark, path, "sums", epochs)
        .groupBy("i")
        .agg(F.sum("s").cast("long").alias("s"))
    )
    return (
        gram.join(F.broadcast(sums.withColumnRenamed("s", "s_i")), "i")
        .join(
            F.broadcast(
                sums.withColumnRenamed("s", "s_j").withColumnRenamed("i", "j")
            ),
            "j",
        )
        .select("i", "j", "gram", "s_i", "s_j", "n")
    )


def moments_compact(spark, src_path: str, dst_path: str) -> None:
    """Fold the per-epoch partials to ONE epoch-0 store at a NEW path
    (swap by repoint); orphans from a crashed append are dropped by the
    epoch-SET read.  The running n_rows carries over, so a later append
    into the new path re-bases on it."""
    srow, _ = completed_epochs(spark, src_path, "moments_compact")
    folded = moments_read(spark, src_path)
    sums = folded.filter(F.col("i") == F.col("j")).select("i", F.col("s_i").alias("s"))
    commit_epoch(
        spark, dst_path, 0,
        {"cells": folded.select("i", "j", "gram", "n"), "sums": sums},
        (srow.n_rows, 0), MOMENTS_STATS_SCHEMA, mode="errorifexists",
    )


def pca_fit_from_store(spark, path: str, r: int) -> PcaModel:
    """:func:`pca_fit` from the streamed moments store — the d x d
    metadata collect + driver eigensolve, zero corpus scans."""
    return _fit_from_rows(moments_read(spark, path).collect(), r)


# ── exact-integer top-direction power iteration ──────────────────────────
#
# The eigensolve in pca_fit is LAPACK (not cross-engine replayable), so
# the ORACLED composition of PCA into the similarity stack uses power
# iteration instead: v_{t+1} = C·v_t, rescaled to scale_bits fixed-point
# after every step — nothing but integer multiply/sum/compare/divide, so
# Python (driver), Spark SQL, and DuckDB produce the SAME vector bit for
# bit.  K iterations of a d x d integer matrix is O(K·d²) DRIVER work on
# the metadata-sized covariance — the cluster never sees it.

POWER_ITERS = 4
POWER_SCALE_BITS = 20


def power_direction(
    cov_rows,
    iters: int = POWER_ITERS,
    scale_bits: int = POWER_SCALE_BITS,
) -> list[int]:
    """Approximate top-eigenvector direction (fixed-point, |v| <=
    2^scale_bits) from the COLLECTED upper-triangle scaled covariance
    (``scaled_covariance`` rows: i, j, cov_scaled).  Exact integer
    arithmetic throughout — Python bigints here, HUGEINT in the DuckDB
    oracle replay — with the division made sign-safe (divide magnitudes,
    reapply the sign), because Python ``//`` floors while Spark DIV and
    DuckDB ``//`` truncate toward zero: they disagree exactly on
    negative numerators."""
    if not cov_rows:
        return []
    d = max(int(r.j) for r in cov_rows) + 1
    cov = [[0] * d for _ in range(d)]
    for r in cov_rows:
        c = int(r.cov_scaled)
        cov[int(r.i)][int(r.j)] = c
        cov[int(r.j)][int(r.i)] = c
    v = [1] * d
    half = 1 << scale_bits
    for _ in range(iters):
        w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
        mx = max(max(abs(x) for x in w), 1)
        v = [
            -((-x * half) // mx) if x < 0 else (x * half) // mx
            for x in w
        ]
    return v


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark ``DIV`` / DuckDB
    ``//`` semantics.  Python ``//`` floors, disagreeing exactly on
    negative numerators."""
    return -((-a) // b) if a < 0 else a // b


def power_directions(
    cov_rows,
    r: int,
    iters: int = POWER_ITERS,
    scale_bits: int = POWER_SCALE_BITS,
) -> list[list[int]]:
    """Top-``r`` fixed-point directions via power iteration with
    integer Gram-Schmidt DEFLATION — the r-dim extension of
    :func:`power_direction` (``power_directions(cov, 1)[0]`` is
    bit-identical to it, test-pinned), closing the one similarity path
    that previously rode LAPACK's non-replayable eigensolve
    (``pca_fit``) for r > 1.

    Direction t runs the same K matvec+rescale iterations as
    :func:`power_direction`, then after EVERY rescale projects out the
    t prior directions (v_i -= trunc_div(dot(v,u) * u_i, dot(u,u)),
    per-element division to keep precision) and rescales again so the
    residual recovers full fixed-point resolution — without the second
    rescale a near-parallel iterate would collapse to a handful of
    significant bits.  For t=0 the ortho loop is empty and the second
    rescale is an exact identity (dividing v_i * 2^s by the 2^s the
    first rescale normalized to), which is what makes the t=0 column
    equal power_direction bit for bit.

    Everything is integer multiply/sum/compare/truncating-divide on
    Python bigints — replayed by the oracle's chained HUGEINT CTE
    blocks (one per direction) and therefore hash-green end-to-end,
    unlike the LAPACK components.  O(r·K·d²) driver work on the
    metadata-sized covariance; the cluster never sees it.  A start
    vector that lies in the span of the prior directions deflates to
    the zero vector and stays there — deterministic in both engines,
    and irrelevant for ranking projections (all zeros)."""
    if not cov_rows or r <= 0:
        return []
    d = max(int(row.j) for row in cov_rows) + 1
    cov = [[0] * d for _ in range(d)]
    for row in cov_rows:
        c = int(row.cov_scaled)
        cov[int(row.i)][int(row.j)] = c
        cov[int(row.j)][int(row.i)] = c
    half = 1 << scale_bits
    dirs: list[list[int]] = []
    for _t in range(r):
        v = [1] * d
        for _ in range(iters):
            w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
            mx = max(max(abs(x) for x in w), 1)
            v = [_tdiv(x * half, mx) for x in w]
            for u in dirs:
                num = sum(vi * ui for vi, ui in zip(v, u))
                den = max(sum(ui * ui for ui in u), 1)
                v = [vi - _tdiv(num * ui, den) for vi, ui in zip(v, u)]
            mx = max(max(abs(x) for x in v), 1)
            v = [_tdiv(x * half, mx) for x in v]
        dirs.append(v)
    return dirs


def power_project_multi(
    emb: DataFrame,
    directions: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_prefix: str = "p",
) -> DataFrame:
    """(id, p0..p_{r-1}): exact-integer projection onto each fixed-point
    direction in ONE corpus pass — the quantize runs once and every
    per-direction dot product is a folded-literal zip_with/aggregate
    over the same array (per-row narrow, JVM-side, no shuffle, no
    UDFs).  Magnitudes as :func:`power_project` (<= ~2^47, BIGINT)."""
    qx = quantize_embedding(F.col(vec_col))
    cols = [F.col(id_col)]
    for t, direction in enumerate(directions):
        y = F.array(*[F.lit(int(c)).cast("long") for c in direction])
        prods = F.zip_with(qx, y, lambda a, b: a * b)
        cols.append(
            F.aggregate(
                prods, F.lit(0).cast("long"), lambda acc, p: acc + p
            ).alias(f"{out_prefix}{t}")
        )
    return emb.select(*cols)


def power_project(
    emb: DataFrame,
    direction: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "proj",
) -> DataFrame:
    """(id, proj): exact-integer projection onto the fixed-point
    direction — proj = sum_i qx_i * y_i over the microunit-quantized
    vector.  Magnitude: |qx| <= ~1e6 (unit-ish inputs) x |y| <= 2^20 x
    d=64 terms -> <= ~2^47, comfortably BIGINT.  The direction is a
    d-element literal folded into the plan (broadcast by value): per-row
    narrow, JVM-side zip_with/aggregate, no shuffle, no UDFs."""
    y = F.array(*[F.lit(int(c)).cast("long") for c in direction])
    prods = F.zip_with(
        quantize_embedding(F.col(vec_col)), y, lambda a, b: a * b
    )
    return emb.select(
        F.col(id_col),
        F.aggregate(
            prods, F.lit(0).cast("long"), lambda acc, p: acc + p
        ).alias(out_col),
    )


def pca_project(
    emb: DataFrame,
    model: PcaModel,
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Append ``out_col`` = the r-dim projection.  The model is a d x r
    literal folded into the plan (broadcast by value) — per-row narrow,
    no shuffle, no UDFs."""
    y = F.array(
        *[
            _dot_centered(F.col(vec_col), comp, model.mean)
            for comp in model.components
        ]
    )
    return emb.withColumn(out_col, y)
