"""Vector-similarity operators ([EXT], SURVEY §7 M5): exact cosine via pure
array expressions, and an LSH (random-hyperplane) bucketing scheme for the
scale path.

Determinism/portability: the oracle must reproduce the exact IEEE doubles,
so (a) every float is cast to double *before* any multiply, (b) the dot
product folds strictly left-to-right (Spark ``aggregate`` fold == the
oracle's explicit left-associated sum), and (c) the hyperplanes are module-
level literals (seeded numpy) embedded verbatim into both engines' SQL.

Scale posture: brute-force cosine is O(Q·N·d) — fine for a broadcast query
set against any N because it is embarrassingly parallel with no shuffle;
the LSH variant buckets the corpus once (narrow) and joins only within
buckets, the standard trick above ~10⁶ vectors (SURVEY §4.3).
"""

from __future__ import annotations

import functools as _functools

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.functions.text import sql_ident

EMBEDDING_DIM = 64

#: Plane count for the ORACLE-registered query (the oracle SQL string is
#: static, so the registry pins one value): 2^8 = 256 buckets — candidate
#: pairs ≈ N²/512.  r2 shipped 6 planes (64 buckets), which was already the
#: slowest bench entry and quadratic death at the module's own ≥1e6-vector
#: target; the operator API below scales the count with corpus size.
N_HYPERPLANES = 8

#: Upper bound of the deterministic plane pool.  r7 grew it 24 → 192: the
#: multi-table config must DEEPEN its tables as the corpus grows (random-
#: pair collision per b-plane table is ≈(1/2)^b, so candidates are
#: ≈L·N²/2^b — fixed b is quadratic; b ≈ log2(N/occupancy) holds the
#: candidate volume linear-ish), and holding RECALL at a similarity
#: threshold while depth grows needs more tables too (lsh_config_for
#: solves both jointly: e.g. recall 0.95 @ cos 0.95 on 32k vectors is
#: 11 tables × 13 planes = 143).  192 funds the regimes where multi-table
#: sign-LSH is the right tool; where the solver says INFEASIBLE, the
#: answer is the learned-IVF path, not a bigger pool.  Extending the pool
#: APPENDS planes — the rng emits them sequentially, so the first 24
#: (everything the oracle SQL embeds) are bit-identical to every earlier
#: round (pinned in test_plan_quality).
MAX_HYPERPLANES = 192

#: Multi-table (OR-amplified) LSH configuration — the RECALL-viable ANN
#: path.  Sign-LSH is AND-amplification: every extra plane multiplies the
#: collision probability (1 - θ/π) in, so a SINGLE table at 8 planes keeps
#: only 0.06 of the true top-50 cosine pairs at sf0.1 (measured; their
#: cosines are 0.48–0.60 ⇒ p ≈ 0.67/plane ⇒ p⁸ ≈ 0.04).  OR-ing L smaller
#: tables recovers it: recall = 1-(1-p^b)^L.  6 tables × 4 planes from
#: DISJOINT slices of the 24-plane pool measures 0.64 recall at ~39% of the
#: brute-force pair work on this corpus (the gate in test_plan_quality
#: pins the measured floor).  The b/L knobs trade candidate volume for
#: recall; b still follows n_hyperplanes_for as the corpus grows.
N_TABLES = 6
PLANES_PER_TABLE = 4

# Deterministic hyperplanes, shared verbatim with the oracle SQL literals.
_rng = np.random.default_rng(7)
HYPERPLANES: list[list[float]] = [
    [float(x) for x in _rng.standard_normal(EMBEDDING_DIM)] for _ in range(MAX_HYPERPLANES)
]


def planes_per_table_for(
    n_vectors: int,
    n_tables: int = N_TABLES,
    target_collisions_per_vector: int = 64,
) -> int:
    """Per-table depth that holds the expected RANDOM-pair candidate
    volume ≈ ``target_collisions_per_vector``: a random (≈orthogonal) pair
    collides in a b-plane sign-LSH table with probability ≈(1/2)^b, so
    expected random candidates per vector ≈ n_tables·N/2^b and
    b = ceil(log2(n_tables·N/target)) keeps total candidate work
    LINEAR-ish in N — fixed b is quadratic (tools/scale_probe.py measures
    both: candidates ×16.0 for a 4× corpus at fixed b=4, ×20.9 for a 16×
    corpus with scaled b).  Floored at the oracle default PLANES_PER_TABLE
    and capped by the plane pool.

    RECALL TRADE (be honest about the LSH theory): recall at similarity
    threshold s is 1−(1−p^b)^L with p = 1−acos(s)/π, so DEPTH erodes
    boundary-recall — near-parallel dups (cos → 1 ⇒ p → 1) stay caught at
    any depth (the probe measures 100% planted-dup recall through b=12),
    but at cos = 0.9 (p ≈ 0.856) b=12/L=6 keeps only ~0.64.  Holding
    recall at a FIXED threshold while candidates stay linear requires
    growing n_tables ~N^ρ (ρ = ln(1/p_near)/ln(1/p_far), the classic LSH
    exponent) — raise ``n_tables`` alongside b (the MAX_HYPERPLANES=192
    pool funds L·b ≤ 192), or keep b moderate and pay candidate volume.
    ``lsh_config_for`` solves both jointly against a recall target.  The exact
    verify step means depth NEVER affects precision, only which candidate
    pairs are scored."""
    import math

    if n_vectors <= 0:
        return PLANES_PER_TABLE
    capped = MAX_HYPERPLANES // n_tables
    if capped < PLANES_PER_TABLE:
        # the pool cannot fund n_tables tables at even the minimum depth;
        # returning a sub-floor b (0 at n_tables>192) would silently build
        # single-bucket tables — the exact quadratic blowup this knob
        # exists to prevent (r7 review)
        raise ValueError(
            f"planes_per_table_for: {n_tables} tables x the minimum depth "
            f"{PLANES_PER_TABLE} exceeds the {MAX_HYPERPLANES}-plane pool"
        )
    needed = math.ceil(
        math.log2(max(n_tables * n_vectors / target_collisions_per_vector, 1.0))
    )
    return min(capped, max(PLANES_PER_TABLE, needed))


def lsh_config_for(
    n_vectors: int,
    threshold: float = 0.9,
    recall: float = 0.95,
    target_collisions_per_vector: int = 64,
) -> tuple[int, int]:
    """(n_tables, planes_per_table) meeting BOTH scale constraints at once:
    candidate volume ≈ linear (depth b from the collision budget, as in
    :func:`planes_per_table_for`) AND recall ≥ ``recall`` at similarity
    ``threshold`` (table count L = ln(1−R)/ln(1−p^b), the OR-amplification
    inverse, with p = 1−acos(s)/π).  b and L are solved jointly: raising L
    raises the collision budget's b, which lowers per-table recall, which
    raises L — iterate to the fixpoint (monotone, converges in a few
    steps).  Raises ValueError when the deterministic plane pool cannot
    fund L·b — silently under-delivering recall is not an option.

    An INFEASIBLE result is information, not failure: the L·b cost of
    OR-amplified sign-LSH at high boundary-recall grows ~N^ρ (hundreds of
    planes per row by ~1e6 vectors), which is the textbook regime boundary
    where inverted-file methods win — route those corpora to the
    learned-IVF path (operators/kmeans.py) instead of growing the pool."""
    import math

    if not 0 < threshold < 1 or not 0 < recall < 1:
        raise ValueError(f"lsh_config_for: bad threshold={threshold} recall={recall}")
    p = 1.0 - math.acos(threshold) / math.pi

    def depth(n_tables: int) -> int:
        # UNCLAMPED twin of planes_per_table_for: the pool cap must surface
        # as infeasibility below, never silently shrink b (a clamped b
        # trades the candidate budget away while "meeting" recall)
        if n_vectors <= 0:
            return PLANES_PER_TABLE
        return max(
            PLANES_PER_TABLE,
            math.ceil(
                math.log2(
                    max(n_tables * n_vectors / target_collisions_per_vector, 1.0)
                )
            ),
        )

    n_tables = N_TABLES
    for _ in range(64):
        b = depth(n_tables)
        # p**b can underflow to where 1-p**b rounds to exactly 1.0 (log
        # 0.0): per-table recall is then numerically zero, i.e. no finite
        # table count reaches the target — fall through to the refusal
        # instead of dividing by zero (r7 review)
        per_table_miss = 1.0 - p**b
        if per_table_miss >= 1.0:
            break
        need = max(1, math.ceil(math.log(1.0 - recall) / math.log(per_table_miss)))
        if need <= n_tables:
            if n_tables * b > MAX_HYPERPLANES:
                break
            return n_tables, b
        n_tables = need
    b = depth(n_tables)
    raise ValueError(
        f"lsh_config_for: recall {recall} at threshold {threshold} for "
        f"{n_vectors} vectors needs ~{n_tables} tables x {b} planes "
        f"({n_tables * b} total), beyond the {MAX_HYPERPLANES}-plane pool; "
        "lower the recall target, raise target_collisions_per_vector, or "
        "grow MAX_HYPERPLANES"
    )


def n_hyperplanes_for(n_vectors: int, target_occupancy: int = 256) -> int:
    """Plane count that keeps expected bucket occupancy ≈ constant as the
    corpus grows: planes ≈ log2(N / target_occupancy), floored at the
    oracle default and capped by the plane pool.  Candidate-pair work per
    bucket is then O(target_occupancy²) regardless of N — the knob that
    keeps the LSH join linear-ish at 100 TB instead of quadratic."""
    import math

    if n_vectors <= 0:
        return N_HYPERPLANES
    needed = math.ceil(math.log2(max(n_vectors / target_occupancy, 1.0)))
    return min(MAX_HYPERPLANES, max(N_HYPERPLANES, needed))


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ with per-element double casts, strict left-to-right fold.
    Column NAMES (both str) build as one memoized SQL string — one py4j
    round trip instead of ~6 lambda constructions (r18, the
    :func:`lsh_table_keys_int` convention for per-micro-batch builders)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql_expr(a, b))
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


@_functools.lru_cache(maxsize=64)
def _dot_sql_expr(a: str, b: str) -> str:
    a_sql, b_sql = sql_ident(a), sql_ident(b)
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector has zero norm (cosine is undefined there).
    try_divide, not `/`: under Spark's default ANSI mode a plain division
    raises DIVIDE_BY_ZERO — ONE all-zero embedding row would kill an
    entire 100 TB job instead of dropping out of the ranking."""
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def plane_dot(emb: Column, plane: list[float]) -> Column:
    """Dot product against a literal hyperplane, same fold order as the
    oracle's generated sum."""
    acc = F.lit(0.0)
    for i, w in enumerate(plane):
        acc = acc + F.lit(w) * F.element_at(emb, i + 1).cast("double")
    return acc


def _dim_guarded(emb: Column) -> Column:
    """Fail-fast refusing guard on every LSH entry point (r12 verdict #1):
    the hyperplane pool is ``EMBEDDING_DIM``-wide, and a NARROWER vector
    zip_with-pads the plane dot to NULL — every sign bit reads '0', every
    vector lands in ONE bucket per table, and the candidate equi-join
    silently degrades to an all-pairs cross join (N×M verify work) while
    recall reads a flattering 1.0 (the SCALE.md decontam-probe caveat,
    previously guarded only in fixtures).  A WIDER vector silently
    truncates the dot instead.  Both are data bugs a 100 TB job must
    refuse loudly, so mismatched sizes (and NULL vectors, size −1) raise
    at execution time rather than degrade."""
    return F.when(F.size(emb) == EMBEDDING_DIM, emb).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"LSH embedding must be exactly {EMBEDDING_DIM}-wide "
                    "(the hyperplane pool width); got size "
                ),
                F.size(emb).cast("string"),
            )
        )
    )


def lsh_bucket(emb: Column, n_planes: int = N_HYPERPLANES) -> Column:
    """Random-hyperplane LSH bucket id: the sign-bit string of the plane
    dot products ('01001101' for the default 8 planes).  Pass
    ``n_planes=n_hyperplanes_for(corpus_size)`` to hold bucket occupancy
    constant as the corpus grows.

    Shape: the plane matrix is a nested array literal that ConstantFolding
    collapses into ONE Literal node, and the per-plane dot is a zip_with/
    aggregate fold — the expression tree stays O(1) in (planes × dim).  The
    r2 unrolled-literal chain was ~4 s of driver-side analysis + codegen
    per run at 8×64 terms (measured), dwarfing the actual row work; the
    fold matches its strict left-to-right summation bit-for-bit, so the
    unrolled oracle SQL (plane_dot_sql) is unchanged."""
    return _sign_bit_string(_dim_guarded(emb), HYPERPLANES[:n_planes])


def _sign_bit_string(emb: Column, planes: list[list[float]]) -> Column:
    # one expr-string parse (single py4j roundtrip) instead of ~n_planes×dim
    # Column constructions; CAST('repr' AS DOUBLE) is the same repr→double
    # conversion F.lit(float) performs, and ConstantFolding collapses the
    # whole matrix into one Literal
    planes_lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST('{w!r}' AS DOUBLE)" for w in p) + ")"
            for p in planes
        )
        + ")"
    )
    bits = F.transform(
        planes_lit,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(p, emb, lambda w, x: w * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def lsh_table_keys(
    emb: Column, n_tables: int = N_TABLES, planes_per_table: int = PLANES_PER_TABLE
) -> Column:
    """Multi-table LSH index keys: array of ``"<table>:<sign bits>"``, one
    per hash table, planes drawn from DISJOINT slices of the pool (tables
    must be independent for the OR-amplified recall math to hold).  Explode
    + equi-join on the key ≡ candidates colliding in ANY table."""
    if n_tables * planes_per_table > MAX_HYPERPLANES:
        raise ValueError(
            f"{n_tables}×{planes_per_table} planes exceed the deterministic "
            f"pool of {MAX_HYPERPLANES}"
        )
    emb = _dim_guarded(emb)
    return F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                _sign_bit_string(
                    emb, HYPERPLANES[t * planes_per_table : (t + 1) * planes_per_table]
                ),
            )
            for t in range(n_tables)
        ]
    )


def lsh_table_keys_int(
    emb: Column | str,
    n_tables: int = N_TABLES,
    planes_per_table: int = PLANES_PER_TABLE,
) -> Column:
    """Bijective integer form of :func:`lsh_table_keys`: per table,
    ``(table << planes) | sign_bits`` with bits packed MSB-first in plane
    order.  Identical bucketing (the map string-key ↔ int-key is 1:1), so
    a candidate equi-join on these keys yields EXACTLY the candidate set
    the string form (and therefore the oracle SQL) produces — but longs
    shuffle and compare cheaper than ~6-char strings (measured −14% on the
    sf0.1 candidate self-join).  Use this on the engine side wherever the
    key value itself never surfaces in output.

    Pass a column NAME (str) on hot build paths: the whole key array is
    then one memoized SQL string handed to a single ``F.expr`` — one py4j
    round trip and one parse, versus ~16 lambda-construction round trips
    per table for the Column form (r18: EmbeddingIngest rebuilt this
    expression every micro-batch; plan construction was ~0.5 s of driver
    time per batch).  Both forms analyze to the same expressions."""
    if n_tables * planes_per_table > MAX_HYPERPLANES:
        raise ValueError(
            f"{n_tables}×{planes_per_table} planes exceed the deterministic "
            f"pool of {MAX_HYPERPLANES}"
        )
    if isinstance(emb, str):
        return F.expr(_lsh_table_keys_int_sql(emb, n_tables, planes_per_table))
    emb = _dim_guarded(emb)
    return F.array(
        *[
            (
                F.lit(t * (1 << planes_per_table)).cast("long")
                + _sign_bits_int(
                    emb, HYPERPLANES[t * planes_per_table : (t + 1) * planes_per_table]
                )
            )
            for t in range(n_tables)
        ]
    )


@_functools.lru_cache(maxsize=64)
def _lsh_table_keys_int_sql(
    emb: str, n_tables: int, planes_per_table: int
) -> str:
    """One SQL string for the full :func:`lsh_table_keys_int` array over a
    named column — term-for-term the Column construction (same dim guard,
    same ``CAST('{repr}' AS DOUBLE)`` plane literals, same fold order and
    integer widths), so the analyzed expressions — and every sign bit —
    are identical."""
    emb_sql = sql_ident(emb)
    guard = (
        f"CASE WHEN size({emb_sql}) = {EMBEDDING_DIM} THEN {emb_sql} "
        "ELSE raise_error(concat("
        f"'LSH embedding must be exactly {EMBEDDING_DIM}-wide "
        "(the hyperplane pool width); got size ', "
        f"CAST(size({emb_sql}) AS STRING))) END"
    )

    def table_sql(t: int) -> str:
        planes = HYPERPLANES[t * planes_per_table : (t + 1) * planes_per_table]
        planes_lit = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"CAST('{w!r}' AS DOUBLE)" for w in p) + ")"
                for p in planes
            )
            + ")"
        )
        plane_dot = (
            f"aggregate(zip_with(p, {guard}, (w, x) -> w * CAST(x AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        )
        return (
            f"(CAST({t * (1 << planes_per_table)} AS BIGINT) + "
            f"aggregate({planes_lit}, CAST(0 AS BIGINT), (acc, p) -> "
            f"acc * 2 + CAST(CASE WHEN {plane_dot} >= 0 THEN 1 ELSE 0 END "
            "AS BIGINT)))"
        )

    return "array(" + ", ".join(table_sql(t) for t in range(n_tables)) + ")"


def _sign_bits_int(emb: Column, planes: list[list[float]]) -> Column:
    """Sign bits of the plane dots packed into a long, MSB-first — the
    same plane order and sign convention as ``_sign_bit_string``."""
    planes_lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST('{w!r}' AS DOUBLE)" for w in p) + ")"
            for p in planes
        )
        + ")"
    )
    return F.aggregate(
        planes_lit,
        F.lit(0).cast("long"),
        lambda acc, p: acc * 2
        + F.when(
            F.aggregate(
                F.zip_with(p, emb, lambda w, x: w * x.cast("double")),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            >= 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )


# ── oracle-side SQL generators (DuckDB dialect: 1-based l[i] indexing) ───


def dot_sql(a: str, b: str, dim: int = EMBEDDING_DIM) -> str:
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(1, dim + 1)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"


def cosine_sql(a: str, b: str, dim: int = EMBEDDING_DIM) -> str:
    # NULLIF mirrors the Spark side's try_divide: zero-norm → NULL cosine
    return (
        f"({dot_sql(a, b, dim)} / "
        f"NULLIF(SQRT({dot_sql(a, a, dim)}) * SQRT({dot_sql(b, b, dim)}), 0))"
    )


def plane_dot_sql(emb: str, plane: list[float]) -> str:
    # CAST the literal: DuckDB parses bare decimal literals as DECIMAL, and
    # we need the exact repr→double conversion Spark's F.lit(float) does.
    terms = " + ".join(
        f"(CAST('{w!r}' AS DOUBLE) * CAST({emb}[{i + 1}] AS DOUBLE))" for i, w in enumerate(plane)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"


def lsh_bucket_sql(emb: str, n_planes: int = N_HYPERPLANES) -> str:
    bits = " || ".join(
        f"(CASE WHEN {plane_dot_sql(emb, p)} >= 0 THEN '1' ELSE '0' END)"
        for p in HYPERPLANES[:n_planes]
    )
    return f"({bits})"


def lsh_table_keys_sql(
    emb: str, n_tables: int = N_TABLES, planes_per_table: int = PLANES_PER_TABLE
) -> str:
    """DuckDB list expression mirroring :func:`lsh_table_keys` verbatim."""
    keys = []
    for t in range(n_tables):
        planes = HYPERPLANES[t * planes_per_table : (t + 1) * planes_per_table]
        bits = " || ".join(
            f"(CASE WHEN {plane_dot_sql(emb, p)} >= 0 THEN '1' ELSE '0' END)"
            for p in planes
        )
        keys.append(f"('{t}:' || {bits})")
    return "[" + ", ".join(keys) + "]"
