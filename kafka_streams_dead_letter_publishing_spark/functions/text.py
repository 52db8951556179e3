"""Text-analysis operators for the LLM-data-pipeline surface ([EXT],
SURVEY §2.2 / §7 M5): tokenization, shingling, fingerprinting, minhash,
simhash, quality scoring, language ID.

All hot-path logic is Column expressions (JVM-side, codegen); the shingle /
minhash hashes use md5 so the DuckDB oracle can compute byte-identical
values (engine-portable, unlike xxhash64/DuckDB-hash).

Scale posture: everything here is per-row narrow work before any join, so it
scales linearly; the pairwise near-dup joins it feeds are gated by LSH
banding (candidates only), not an all-pairs product.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic marker vocabularies, shared with the oracle SQL.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
}

N_MINHASH = 16  # minhash functions; banded as N_BANDS × 2 rows
N_BANDS = 8


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def ngrams(toks: Column, n: int) -> Column:
    """Space-joined n-grams of a token array, WITH multiplicity (empty
    below n tokens).  1-based element_at keeps the index convention
    identical to the oracle's DuckDB list indexing.

    PERF: pass ``toks`` as a *materialized column from a previous select*,
    never an inline expression — the lambda references it n times per
    gram position, and an inlined split/regexp chain gets re-evaluated
    on every reference (no codegen subexpression elimination inside
    higher-order functions; measured ~10× on the near-dup pipeline)."""
    gram = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, gram).otherwise(
        F.array().cast("array<string>")
    )


def shingles(toks: Column, k: int = 3) -> Column:
    """DISTINCT k-token shingles as an array<string> — the set form of
    :func:`ngrams` the Jaccard/minhash family consumes; empty when the doc
    has fewer than k tokens.  Same PERF caveat as :func:`ngrams`."""
    return F.array_distinct(ngrams(toks, k))


def norm_text(text: Column) -> Column:
    """Canonical normalization shared by fingerprinting, shingling, and the
    ingest filters: lowercase + collapse whitespace.  One definition so the
    engine and every oracle CTE (`plans/text.py` ``_NORM_SQL``) stay in
    lockstep.

    EXPLICIT character class, not ``\\s``: Java's ``\\s`` includes vertical
    tab U+000B but DuckDB/RE2's does not, so the shorthand silently
    diverged on any document containing \\x0B (different fingerprint,
    tokens, shingles, minhash — every text oracle row would mismatch;
    reproduced empirically).  The class below is spelled identically in
    both dialects."""
    return F.regexp_replace(F.lower(text), "[ \\t\\n\\x0B\\f\\r]+", " ")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the lowercased, space-normalized text —
    the exact-dup key that survives formatting noise."""
    return F.md5(norm_text(text))


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, so a column NAME with
    a hyphen, a space or a reserved word means the same column inside an
    ``F.expr`` string as in ``F.col(name)`` (a dotted name is taken as
    one column name, not a struct path).  Backticks are refused."""
    if "`" in name:
        raise ValueError(f"column name {name!r} contains a backtick")
    return f"`{name}`"


#: sentinel greater than any md5 hex string ('~' > 'f' in ASCII)
_MINHASH_SENTINEL = "~"


def minhash_array(shingle_col: Column | str) -> Column:
    """All N_MINHASH minhashes in ONE pass over the shingle set.

    Per shingle: N_MINHASH md5 calls folded with element-wise ``least`` —
    versus N_MINHASH separate array traversals for ``minhash_value``.
    Higher-order functions don't get codegen subexpression elimination, so
    the fold shape is what keeps this O(shingles × hashes) instead of
    O(shingles × hashes × re-evaluations).  Empty set ⇒ all sentinels.

    Pass a column NAME (str) on hot build paths: the whole fold then
    arrives as one memoized SQL string — one py4j round trip instead of
    ~N_MINHASH×4 Column constructions (r18: DocumentIngest rebuilt this
    per micro-batch; the lsh_table_keys_int convention).
    """
    if isinstance(shingle_col, str):
        return F.expr(_minhash_array_sql(shingle_col))
    init = F.array_repeat(F.lit(_MINHASH_SENTINEL), N_MINHASH)
    hashes = lambda s: F.array(  # noqa: E731
        *[F.md5(F.concat(F.lit(f"{j}:"), s)) for j in range(N_MINHASH)]
    )
    return F.aggregate(
        shingle_col, init, lambda acc, s: F.zip_with(acc, hashes(s), lambda a, b: F.least(a, b))
    )


@_functools.lru_cache(maxsize=32)
def _minhash_array_sql(shingle_col: str) -> str:
    """One SQL string for :func:`minhash_array` over a named column —
    term-for-term the Column construction, so the analyzed expressions
    (and every hash value) are identical."""
    sh_sql = sql_ident(shingle_col)
    hashes = ", ".join(
        f"md5(concat('{j}:', s))" for j in range(N_MINHASH)
    )
    return (
        f"aggregate({sh_sql}, array_repeat('{_MINHASH_SENTINEL}', "
        f"{N_MINHASH}), (acc, s) -> zip_with(acc, array({hashes}), "
        "(a, b) -> least(a, b)))"
    )


def band_keys_from_minhash(
    mh: Column | str, n_shingles: Column | str
) -> Column:
    """LSH band keys from a precomputed minhash array (see ``band_keys``).

    IMPORTANT: pass ``mh`` as a *materialized column from a previous
    select* — this expression references it 2×N_BANDS times, and Spark's
    CollapseProject declines to inline non-cheap producer expressions, so
    staging keeps the minhash fold evaluated once per row.

    Pass column NAMES (both str) on hot build paths — one memoized SQL
    string, the :func:`minhash_array` convention.
    """
    if isinstance(mh, str) and isinstance(n_shingles, str):
        return F.expr(_band_keys_sql(mh, n_shingles))
    keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.element_at(mh, 2 * b + 1),
                F.lit("|"),
                F.element_at(mh, 2 * b + 2),
            )
            for b in range(N_BANDS)
        ]
    )
    return F.when(n_shingles > 0, keys).otherwise(F.array().cast("array<string>"))


@_functools.lru_cache(maxsize=32)
def _band_keys_sql(mh: str, n_shingles: str) -> str:
    mh_sql, n_sh_sql = sql_ident(mh), sql_ident(n_shingles)
    keys = ", ".join(
        f"concat('{b}:', element_at({mh_sql}, {2 * b + 1}), '|', "
        f"element_at({mh_sql}, {2 * b + 2}))"
        for b in range(N_BANDS)
    )
    return (
        f"CASE WHEN {n_sh_sql} > 0 THEN array({keys}) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


# NOTE (r6): the N-pass twins minhash_value/band_keys were deleted — every
# consumer stages minhash_array (one fold pass) and builds keys with
# band_keys_from_minhash; a second unreferenced encoding of the
# "<b>:<mh>|<mh>" key format was a drift hazard, not an API.  The band-
# index prefix (keys from different bands can never collide) and the
# empty-shingles → empty-array contract (tiny docs must not share one key
# and fabricate a quadratic candidate blow-up) both live on there.


SIMHASH64_BITS = 64  # two bits per md5 hex digit: its high bit + its low bit
SIMHASH_CHUNK_BITS = 16  # pigeonhole banding: 4 chunks × 16 bits
SIMHASH_N_CHUNKS = SIMHASH64_BITS // SIMHASH_CHUNK_BITS  # = 4 → Hamming ≤ 3 safe

#: hex digits whose high bit is set — shared with the oracle SQL verbatim
_HI_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")
#: hex digits whose LOW bit is set
_LO_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")

#: translate() maps for one-char-per-digit bit extraction
_HI_MAP = "0000000011111111"
_LO_MAP = "0101010101010101"


def _simhash_weight(b: int) -> int:
    """Weight of simhash bit *b* in the signed-64 encoding: 2^b, except bit
    63 which lands on the sign bit — encoded as −2^63 so the final signed
    long carries the exact 64-bit two's-complement pattern (xor/bit_count
    on it behave identically in Spark and DuckDB)."""
    return -(2**63) if b == 63 else 2**b


def simhash64(shingle_col: Column) -> Column:
    """64-bit SimHash over a shingle set, engine-portable by construction.

    Bits 0–31 of a shingle's hash are the HIGH bits of md5 hex digits 1–32;
    bits 32–63 are their LOW bits — trivially identical in any engine with
    md5 + substring, avoiding bigint-hex parsing differences.  The
    document's bit *b* is set iff a strict majority of shingles have it set
    (ties → 0); NULL for empty shingle sets.  Bit 63 is encoded with weight
    −2^63 so the value is the exact 64-bit pattern as a signed long.

    Single pass: per shingle, two ``translate`` calls map the 32 md5 hex
    digits to their high/low bits and one fold accumulates all 64 per-bit
    counts — one md5 per shingle, not one per (shingle, bit) (the naive
    per-bit-filter shape measured 60× slower: higher-order functions get no
    codegen subexpression elimination).

    Upgraded from the r2 32-bit/8-bit-chunk variant: 4×16-bit pigeonhole
    chunks give a 4×65536-key band space, so the candidate join stays
    bucketed (≈N²/262144 pairs) instead of degenerating toward all-pairs at
    1e8+ docs (the r2 verdict's scale fix #3).
    """
    n_sh = F.size(shingle_col)
    bits = lambda s: F.transform(  # noqa: E731
        F.split(
            F.concat(
                F.translate(F.md5(s), "0123456789abcdef", _HI_MAP),
                F.translate(F.md5(s), "0123456789abcdef", _LO_MAP),
            ),
            "",
        ),
        lambda c: c.cast("int"),
    )
    counts = F.aggregate(
        shingle_col,
        F.array_repeat(F.lit(0), SIMHASH64_BITS),
        lambda acc, s: F.zip_with(acc, bits(s), lambda a, b: a + b),
    )
    powers = F.array(*[F.lit(_simhash_weight(b)).cast("long") for b in range(SIMHASH64_BITS)])
    weighted = F.zip_with(
        counts, powers, lambda c, p: F.when(c * 2 > n_sh, p).otherwise(F.lit(0).cast("long"))
    )
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x)
    return F.when(n_sh > 0, total)


def simhash64_sql(shingles_sql: str) -> str:
    """DuckDB SQL reproducing :func:`simhash64` over a list expression."""
    hi = ", ".join(f"'{h}'" for h in _HI_HEX)
    lo = ", ".join(f"'{h}'" for h in _LO_HEX)
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({shingles_sql}, "
        f"s -> substring(md5(s), {(b % 32) + 1}, 1) IN ({hi if b < 32 else lo}))) "
        f"> len({shingles_sql}) THEN CAST({_simhash_weight(b)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH64_BITS)
    )
    return (
        f"(CASE WHEN len({shingles_sql}) > 0 THEN CAST({terms} AS BIGINT) "
        f"ELSE NULL END)"
    )


def stopword_count(toks: Column) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def lang_marker_count(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))


def lang_guess(toks: Column) -> Column:
    """Marker-vocabulary language ID with a strict-majority rule; 'und' on
    ties or no evidence."""
    en, es, de = (lang_marker_count(toks, l) for l in ("en", "es", "de"))
    return (
        F.when((en > es) & (en > de), F.lit("en"))
        .when((es > en) & (es > de), F.lit("es"))
        .when((de > en) & (de > es), F.lit("de"))
        .otherwise(F.lit("und"))
    )


# ── engine-native fast minhash (non-oracled paths) ───────────────────────
#
# The md5 family above exists for ENGINE PORTABILITY: DuckDB can replay it
# byte-for-byte, which is what lets the registry's near-dup rows be
# value-hash-gated.  Operators that are NOT oracle-replayed (the ingest
# filter a pipeline runs 24/7) don't need to pay 16 md5-to-hex-string
# calls per shingle: xxhash64 runs JVM-side on longs, `least` compares
# longs instead of 32-char strings, and the band key packs to ONE long.
# Same minhash/banding S-curve, different (engine-native) hash family —
# which near-miss dups land in which band differs from the md5 family,
# but the exact-Jaccard verify downstream makes precision identical and
# the banding miss-rate math is unchanged.

#: sentinel above any xxhash64 value
_MINHASH_FAST_SENTINEL = (1 << 63) - 1


def minhash_array_fast(shingle_col: Column | str) -> Column:
    """array<long>: all N_MINHASH minhashes in one fold, xxhash64 family.
    Empty set ⇒ all sentinels (mirrors :func:`minhash_array`).  A str
    column NAME builds as one memoized SQL string (the
    :func:`minhash_array` convention)."""
    if isinstance(shingle_col, str):
        return F.expr(_minhash_array_fast_sql(shingle_col))
    init = F.array_repeat(F.lit(_MINHASH_FAST_SENTINEL).cast("long"), N_MINHASH)
    hashes = lambda s: F.array(  # noqa: E731
        *[F.xxhash64(F.lit(j), s) for j in range(N_MINHASH)]
    )
    return F.aggregate(
        shingle_col,
        init,
        lambda acc, s: F.zip_with(acc, hashes(s), lambda a, b: F.least(a, b)),
    )


@_functools.lru_cache(maxsize=32)
def _minhash_array_fast_sql(shingle_col: str) -> str:
    sh_sql = sql_ident(shingle_col)
    hashes = ", ".join(f"xxhash64({j}, s)" for j in range(N_MINHASH))
    return (
        f"aggregate({sh_sql}, array_repeat(CAST({_MINHASH_FAST_SENTINEL} "
        f"AS BIGINT), {N_MINHASH}), (acc, s) -> zip_with(acc, "
        f"array({hashes}), (a, b) -> least(a, b)))"
    )


def band_keys_from_minhash_fast(
    mh: Column | str, n_shingles: Column | str
) -> Column:
    """array<long> LSH band keys from :func:`minhash_array_fast` output:
    band key = xxhash64(band, row1, row2) — one long per band (a 2^-64
    accidental key collision is dominated by the banding miss rate and is
    caught by the exact verify anyway).  Band index in the hash keeps
    different bands' keyspaces disjoint; empty shingle sets get NO keys
    (same tiny-doc contract as :func:`band_keys_from_minhash`).  str
    column NAMES build as one memoized SQL string."""
    if isinstance(mh, str) and isinstance(n_shingles, str):
        return F.expr(_band_keys_fast_sql(mh, n_shingles))
    keys = F.array(
        *[
            F.xxhash64(
                F.lit(b), F.element_at(mh, 2 * b + 1), F.element_at(mh, 2 * b + 2)
            )
            for b in range(N_BANDS)
        ]
    )
    return F.when(n_shingles > 0, keys).otherwise(F.array().cast("array<bigint>"))


@_functools.lru_cache(maxsize=32)
def _band_keys_fast_sql(mh: str, n_shingles: str) -> str:
    mh_sql, n_sh_sql = sql_ident(mh), sql_ident(n_shingles)
    keys = ", ".join(
        f"xxhash64({b}, element_at({mh_sql}, {2 * b + 1}), "
        f"element_at({mh_sql}, {2 * b + 2}))"
        for b in range(N_BANDS)
    )
    return (
        f"CASE WHEN {n_sh_sql} > 0 THEN array({keys}) "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


# ── PII redaction ────────────────────────────────────────────────────────

#: email / IPv4 patterns spelled in the Java∩RE2 regex subset (explicit
#: classes, no \b, no backrefs) so Spark and the DuckDB oracle match and
#: replace IDENTICAL spans — the same dialect discipline as norm_text
PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def redact_pii(text: Column) -> Column:
    """Corpus-cleaning PII scrub: replace every email, then every IPv4
    literal, with typed placeholder tags.  Order matters (an email's
    domain may contain digit runs an IP pattern could clip mid-address);
    both engines replace all occurrences, left to right.  Per-row narrow
    expression — composes into ingest pipelines like the Gopher filter."""
    return F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"), PII_IPV4_RE, "<IP>"
    )


def pii_counts(text: Column) -> Column:
    """struct(n_emails, n_ips) = exactly the <EMAIL>/<IP> tags
    :func:`redact_pii` emits.  IPs are counted on the EMAIL-REDACTED
    text, mirroring the replacement order — counting both on the raw
    text would report an IP inside a consumed email domain (e.g.
    ``user@10.0.0.1.com``) that never becomes an <IP> tag."""
    return F.struct(
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), 0)).alias("n_emails"),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"),
                F.lit(PII_IPV4_RE),
                0,
            )
        ).alias("n_ips"),
    )


# ── sequence packing ─────────────────────────────────────────────────────


def packed_chunks(toks: Column, size: int, stride: int) -> Column:
    """Fixed-size training-sequence windows over a token array:
    ``array<struct<chunk_id:int, chunk:array<string>>>`` with windows
    starting every ``stride`` tokens (``stride < size`` ⇒ overlapping
    context, the standard LLM packing shape); the final window is
    clipped, never padded.  Per-row narrow expression over a
    MATERIALIZED token column (same staging caveat as :func:`ngrams`).
    """
    if not (0 < stride <= size):
        raise ValueError(f"need 0 < stride <= size, got {stride=} {size=}")
    n_chunks = F.floor((F.size(toks) - F.lit(1)) / F.lit(stride)).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.slice(toks, i * stride + 1, size).alias("chunk"),
        ),
    )
    # empty token array: n_chunks is -1 and sequence(0, -1) counts DOWN
    # ([0, -1] — phantom chunks, or a slice error at stride 1); no tokens
    # means no windows
    return F.when(F.size(toks) > 0, windows).otherwise(
        F.array().cast("array<struct<chunk_id:int,chunk:array<string>>>")
    )
