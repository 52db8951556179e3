"""Unit tier for the text fingerprint functions — pins the 64-bit SimHash
contract the r2 verdict demanded (band-key space ≥ 4×65536) and the
losslessness of the pigeonhole chunking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.functions.similarity import (
    dot,
    lsh_table_keys_int,
)
from kafka_streams_dead_letter_publishing_spark.functions.text import (
    SIMHASH64_BITS,
    SIMHASH_CHUNK_BITS,
    SIMHASH_N_CHUNKS,
    band_keys_from_minhash,
    band_keys_from_minhash_fast,
    minhash_array,
    minhash_array_fast,
    shingles,
    simhash64,
    tokens,
)


def test_simhash_band_key_space_is_at_least_4x65536():
    """The r2 scale fix: 8-bit chunks gave only 4×256 band keys (candidate
    pairs ~N²/1024 — quadratic at 1e8 docs).  The key space must be at
    least 4 bands × 2^16 chunk values."""
    assert SIMHASH_N_CHUNKS * (2**SIMHASH_CHUNK_BITS) >= 4 * 65536
    assert SIMHASH_N_CHUNKS * SIMHASH_CHUNK_BITS == SIMHASH64_BITS


def _signed64(u: int) -> int:
    return ((u + 2**63) % 2**64) - 2**63


def test_simhash64_deterministic_and_chunking_lossless(spark):
    rows = [
        ("the quick brown fox jumps over the lazy dog again and again",),
        ("the quick brown fox jumps over the lazy dog again and again",),
        ("completely different text with no overlap whatsoever here now",),
        ("ab",),  # < 3 tokens → empty shingle set → NULL simhash
    ]
    df = spark.createDataFrame(rows, ["text"])
    staged = (
        df.select(tokens(F.col("text")).alias("toks"), "text")
        .select(shingles(F.col("toks")).alias("sh"), "text")
        .select(simhash64(F.col("sh")).alias("sim"), "text")
    )
    chunks = staged.select(
        "sim",
        *[
            F.shiftright("sim", SIMHASH_CHUNK_BITS * b)
            .bitwiseAND(F.lit(2**SIMHASH_CHUNK_BITS - 1))
            .alias(f"c{b}")
            for b in range(SIMHASH_N_CHUNKS)
        ],
    ).collect()
    sims = [r.sim for r in chunks]
    assert sims[0] == sims[1] and sims[0] is not None  # deterministic
    assert sims[2] != sims[0]  # different text, different signature
    assert sims[3] is None  # sub-k-token doc has no signature
    for r in chunks[:3]:
        # the 4 masked chunks partition the 64-bit pattern exactly
        rebuilt = _signed64(
            sum(r[f"c{b}"] << (SIMHASH_CHUNK_BITS * b) for b in range(SIMHASH_N_CHUNKS))
        )
        assert rebuilt == r.sim


def test_fast_minhash_family_contract(spark):
    """The engine-native (xxhash64) minhash family behind the ingest
    filter: deterministic, long-typed, sentinel on empty shingle sets, no
    keys for sub-shingle docs, band keyspaces disjoint, and identical
    shingle sets always share ALL band keys (the property the filter's
    dup-rejection rests on)."""
    from pyspark.sql import functions as F

    from kafka_streams_dead_letter_publishing_spark.functions.text import (
        N_BANDS,
        N_MINHASH,
        band_keys_from_minhash_fast,
        minhash_array_fast,
        norm_text,
        shingles,
        tokens,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # identical text
            (3, "completely different words here now"),
            (4, "too short"),  # < 3 tokens: no shingles
        ],
        "doc_id long, text string",
    )
    staged = df.select(
        "doc_id", shingles(tokens(norm_text(F.col("text")))).alias("sh")
    )
    out = staged.select(
        "doc_id",
        F.size("sh").alias("n"),
        minhash_array_fast(F.col("sh")).alias("mh"),
    ).select(
        "doc_id", "n", "mh", band_keys_from_minhash_fast(F.col("mh"), F.col("n")).alias("bk")
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert out.schema["mh"].dataType.simpleString() == "array<bigint>"
    assert out.schema["bk"].dataType.simpleString() == "array<bigint>"
    assert len(rows[1].mh) == N_MINHASH
    assert rows[1].mh == rows[2].mh and rows[1].bk == rows[2].bk  # identical docs
    assert len(rows[1].bk) == N_BANDS == len(set(rows[1].bk))
    assert rows[1].mh != rows[3].mh  # different content, different minima
    assert rows[4].bk == []  # sub-shingle doc gets NO band keys
    # determinism across evaluations
    again = {r.doc_id: r.bk for r in out.collect()}
    assert again[1] == rows[1].bk


def test_minhash_str_form_matches_column_form(spark):
    """The r18 memoized-SQL string forms of the minhash fold and band-key
    builders (both hash families) must produce exactly the Column forms'
    values — same hashes, same keys, same empty-set sentinels."""
    import random

    from pyspark.sql import functions as F

    from kafka_streams_dead_letter_publishing_spark.functions.text import (
        band_keys_from_minhash,
        band_keys_from_minhash_fast,
        minhash_array,
        minhash_array_fast,
        norm_text,
        shingles,
        tokens,
    )

    random.seed(3)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = [
        (i, " ".join(random.choices(words, k=random.randint(0, 9))))
        for i in range(400)
    ]
    df = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .select(
            "doc_id", shingles(tokens(norm_text(F.col("text")))).alias("sh")
        )
        .select("doc_id", "sh", F.size("sh").alias("n_sh"))
    )
    for mh_fn, bk_fn in (
        (minhash_array, band_keys_from_minhash),
        (minhash_array_fast, band_keys_from_minhash_fast),
    ):
        col_mh = df.select("doc_id", "n_sh", mh_fn(F.col("sh")).alias("mh"))
        str_mh = df.select("doc_id", "n_sh", mh_fn("sh").alias("mh"))
        assert col_mh.exceptAll(str_mh).count() == 0
        assert str_mh.exceptAll(col_mh).count() == 0
        col_bk = col_mh.select(
            "doc_id", bk_fn(F.col("mh"), F.col("n_sh")).alias("bk")
        )
        str_bk = col_mh.select("doc_id", bk_fn("mh", "n_sh").alias("bk"))
        assert col_bk.exceptAll(str_bk).count() == 0
        assert str_bk.exceptAll(col_bk).count() == 0


#: each builder takes a column factory: ``str`` (the memoized SQL form)
#: or ``F.col`` (the Column form)
_SQL_NAME_FORMS = {
    "dot": lambda c: dot(c("e-1"), c("e-1")),
    "lsh_table_keys_int": lambda c: lsh_table_keys_int(c("e-1")),
    "minhash_array": lambda c: minhash_array(c("s-1")),
    "band_keys_from_minhash": lambda c: band_keys_from_minhash(c("m-1"), c("n-1")),
    "minhash_array_fast": lambda c: minhash_array_fast(c("s-1")),
    "band_keys_from_minhash_fast": lambda c: band_keys_from_minhash_fast(
        c("f-1"), c("n-1")
    ),
}


@pytest.mark.parametrize("form", sorted(_SQL_NAME_FORMS))
def test_sql_fast_paths_quote_column_names(spark, form):
    """A str column name that is not a plain identifier (``e-1`` would
    parse as a subtraction) must mean the same column in the memoized
    SQL form as in the Column form."""
    import random

    random.seed(5)
    words = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (
            [random.uniform(-1, 1) for _ in range(64)],
            [" ".join(random.choices(words, k=3)) for _ in range(i % 4)],
        )
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "`e-1` array<double>, `s-1` array<string>")
    df = df.select(
        "*",
        minhash_array(F.col("s-1")).alias("m-1"),
        minhash_array_fast(F.col("s-1")).alias("f-1"),
        F.size("s-1").alias("n-1"),
    )
    build = _SQL_NAME_FORMS[form]
    got = df.select(build(str).alias("s"), build(F.col).alias("c")).collect()
    assert len(got) == 12 and all(r.s == r.c for r in got)


def test_sql_ident_refuses_backticks():
    from kafka_streams_dead_letter_publishing_spark.functions.text import sql_ident

    assert sql_ident("e-1") == "`e-1`"
    with pytest.raises(ValueError, match="backtick"):
        sql_ident("a`b")


def test_pii_redaction_and_counts(spark):
    from kafka_streams_dead_letter_publishing_spark.functions.text import (
        pii_counts,
        redact_pii,
    )

    rows = [
        (1, "mail a.b-c_d%x+1@sub.example.co.uk today"),
        (2, "server at 10.0.255.7 and 192.168.1.1:8080"),
        (3, "both Bob.Smith@corp.example.COM via 172.16.0.9 ok"),
        (4, "no pii here, just v1.2 and a@b (not an email)"),
        (5, ""),
        (6, None),
        # the email regex consumes the dotted-quad "domain": one <EMAIL>
        # tag, NO <IP> tag — and the audit counts must say exactly that
        (7, "ping user@10.0.0.1.com now"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.red, r.c.n_emails, r.c.n_ips)
        for r in df.select(
            "id",
            redact_pii(F.col("text")).alias("red"),
            pii_counts(F.col("text")).alias("c"),
        ).collect()
    }
    assert got[1] == ("mail <EMAIL> today", 1, 0)
    assert got[2] == ("server at <IP> and <IP>:8080", 0, 2)
    assert got[3] == ("both <EMAIL> via <IP> ok", 1, 1)
    # 'v1.2' lacks 4 octets, 'a@b' lacks a dotted TLD: both untouched
    assert got[4] == ("no pii here, just v1.2 and a@b (not an email)", 0, 0)
    assert got[5] == ("", 0, 0)
    assert got[6][0] is None
    assert got[7] == ("ping <EMAIL> now", 1, 0)


def test_packed_chunks_window_boundaries(spark):
    import pytest as _pytest

    from kafka_streams_dead_letter_publishing_spark.functions.text import packed_chunks

    df = spark.createDataFrame(
        [(1, [f"t{i}" for i in range(10)]),  # 10 toks, size 4 stride 3
         (2, ["a"]),                          # single token
         (3, [f"t{i}" for i in range(4)]),    # exactly one full window
         (4, [])],                            # no tokens -> no windows
        "id long, toks array<string>",
    )
    got = {
        r.id: [(c.chunk_id, c.chunk) for c in r.p]
        for r in df.select(
            "id", packed_chunks(F.col("toks"), size=4, stride=3).alias("p")
        ).collect()
    }
    t = [f"t{i}" for i in range(10)]
    # starts at 0,3,6,9 (every stride while start < n); last window clipped
    assert got[1] == [(0, t[0:4]), (1, t[3:7]), (2, t[6:10]), (3, t[9:10])]
    assert got[2] == [(0, ["a"])]
    assert got[3] == [(0, ["t0", "t1", "t2", "t3"]), (1, ["t3"])]
    assert got[4] == []  # not [0, -1] phantom chunks / a slice error
    # every token appears in at least one window
    assert set(t) == {tok for _, ch in got[1] for tok in ch}

    with _pytest.raises(ValueError):
        packed_chunks(F.col("toks"), size=4, stride=5)
    with _pytest.raises(ValueError):
        packed_chunks(F.col("toks"), size=4, stride=0)
