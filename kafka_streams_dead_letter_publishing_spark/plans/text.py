"""Text-analysis / dedup query family ([EXT], SURVEY §2.2, §7 M5) — the
LLM-data-pipeline surface over the ``documents`` table.

The raw corpus has no exact duplicates, so the dedup queries run over a
*derived* corpus that plants deterministic duplicates (same derivation spec
on both engines):

    corpus      = documents
                ∪ {doc_id + 100000: upper(text) with doubled spaces,
                   for doc_id % 3 = 0}          (formatting-noise exact dups)
    nd_corpus   = documents
                ∪ {doc_id + 100000: text minus its first token,
                   for doc_id % 4 = 1}          (planted NEAR dups)

All hot-path logic is Column expressions; md5 is the hash everywhere because
DuckDB computes byte-identical values (portability — see functions/text.py).

Scale posture (100 TB): fingerprint/dedup is one narrow hash + one shuffle
on the hash key; near-dup candidates come from an equi-join on LSH band
keys (never an all-pairs product); language ID / quality stats are per-row
narrow expressions.  The planted-dup UNION is test scaffolding only — the
operators themselves take any DataFrame.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.functions.text import (
    LANG_MARKERS,
    PII_EMAIL_RE,
    PII_IPV4_RE,
    SIMHASH_CHUNK_BITS,
    SIMHASH_N_CHUNKS,
    STOPWORDS,
    band_keys_from_minhash,
    fingerprint,
    lang_guess,
    minhash_array,
    norm_text,
    shingles,
    simhash64,
    simhash64_sql,
    stopword_count,
    tokens,
)
from kafka_streams_dead_letter_publishing_spark.operators.lines import (
    corpus_line_first_occurrence,
)
from kafka_streams_dead_letter_publishing_spark.plans.registry import (
    deliver_slice,
    query,
    retired_query,
    stage_drive_slices,
)
from kafka_streams_dead_letter_publishing_spark.sources.tables import fan_out, load_table

# ── derivation: planted-duplicate corpora (identical on both sides) ──────

PLANT_OFFSET = 100_000


def _corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ formatting-noise copies of every 3rd doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.replace(F.upper("text"), F.lit(" "), F.lit("  ")).alias("text"),
    )
    return docs.unionByName(copies)


_CORPUS_EXACT_SQL = f"""
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {PLANT_OFFSET} AS doc_id,
           replace(upper(text), ' ', '  ') AS text
    FROM documents WHERE doc_id % 3 = 0
)
"""


def _corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ first-token-dropped copies of every 4th doc (near dups)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return docs.unionByName(copies)


_CORPUS_NEARDUP_SQL = f"""
nd_corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {PLANT_OFFSET} AS doc_id,
           substring(text, instr(text, ' ') + 1) AS text
    FROM documents WHERE doc_id % 4 = 1
)
"""

# Normalization shared by fingerprint/shingling: lowercase + collapse
# whitespace (matches functions.text.fingerprint's normalization).
# explicit class, NOT '\\s' — Java's \s includes \x0B, RE2's does not
# (see functions/text.norm_text, the engine-side twin)
_NORM_SQL = "regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"
_FP_SQL = f"md5({_NORM_SQL})"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"


#: engine-side twin of _NORM_SQL — the one canonical definition
_norm = norm_text


# DuckDB shingle list for k=3 over a token-list SQL fragment; [] below k.
def _shingles_sql(toks_sql: str, k: int = 3) -> str:
    return (
        f"(CASE WHEN len({toks_sql}) >= {k} THEN list_distinct("
        f"[array_to_string(({toks_sql})[i:i+{k - 1}], ' ') "
        f"for i in generate_series(1, len({toks_sql}) - {k - 1})]) "
        f"ELSE [] END)"
    )


# ── exact dedup ──────────────────────────────────────────────────────────


@query(
    "docs_exact_dup_groups",
    "WITH " + _CORPUS_EXACT_SQL
    + f"""
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
    FROM (SELECT {_FP_SQL} AS fp, doc_id FROM corpus)
    GROUP BY fp
    HAVING COUNT(*) >= 2
    """,
    doc="[EXT] Exact dedup grouping: md5 fingerprint of normalized text "
    "(lowercase, collapsed whitespace) groups formatting-noise duplicates; "
    "one hash + one shuffle on the fingerprint key — the 100 TB-safe exact "
    "dedup shape.",
    tags=("text", "dedup", "bench"),
)
def docs_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_exact(spark, sf_dir)
    return (
        corpus.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_docs") >= 2)
    )


# NOTE (r6): docs_dedup_pick_first was folded away (registry budget, r5
# verdict #5): the exact pick-first ACTION — lowest doc_id per fingerprint
# via row_number, the distributed analogue of dropDuplicates with a defined
# winner — stays hash-oracled as docs_clean_corpus_pipeline's `deduped`
# stage, and docs_neardup_keepers makes the same "corpus in, deduped corpus
# out" statement at the strictly harder near-dup cluster tier.


# NOTE: r2's docs_distinct_lang_source (full-row dropDuplicates = DISTINCT)
# was folded away per the r2 verdict — the dropDuplicates operator surface
# stays pinned by events_salted_type_counts (distinct users) and the
# pick-first dedup above (its deterministic distributed analogue).


# ── near-dup (minhash + LSH banding) ─────────────────────────────────────


# NOTE: r3's docs_neardup_candidates (the pre-verify LSH pair listing) was
# folded away per the r3 verdict's registry budget — the candidate stage is
# not gone: the IDENTICAL banding/equi-join logic runs (and stays
# hash-oracled end-to-end) inside docs_neardup_verified and
# docs_neardup_clusters, whose CTEs/plans contain it verbatim, and the
# no-cartesian plan gate still pins it in tests/test_plan_quality.py.


# ONE definition of the candidate pipeline (corpus → shingles → banded
# minhash keys → candidate pairs) and of the Jaccard≥0.6 acceptance test,
# shared by the pair-listing row below AND the clusters/keepers CTE chain —
# two copies of oracle SQL that must stay semantically identical are a
# drift hazard, not a convenience.
_NEARDUP_BASE_CTES = (
    _CORPUS_NEARDUP_SQL
    + f""",
    sh_tbl AS MATERIALIZED (
        SELECT doc_id, {_shingles_sql(_TOKS_SQL)} AS sh FROM nd_corpus
    ),
    banded AS (
        SELECT doc_id, unnest(
            CASE WHEN len(sh) > 0 THEN [
                CAST(b AS VARCHAR) || ':' ||
                list_aggregate([md5(CAST(2 * b AS VARCHAR) || ':' || s) for s in sh], 'min')
                || '|' ||
                list_aggregate([md5(CAST(2 * b + 1 AS VARCHAR) || ':' || s) for s in sh], 'min')
                for b in generate_series(0, 7)
            ] ELSE [] END
        ) AS bk
        FROM sh_tbl
    ),
    cands AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    )
"""
)

#: exact-Jaccard ≥ 0.6 via integer cross-multiplication (x/y aliases =
#: sh_tbl joined on doc_a/doc_b)
_JACCARD_06_SQL = (
    "len(list_intersect(x.sh, y.sh)) * 10 "
    ">= len(list_distinct(list_concat(x.sh, y.sh))) * 6"
)


@query(
    "docs_neardup_verified",
    "WITH " + _NEARDUP_BASE_CTES
    + f"""
    SELECT doc_a, doc_b,
           len(list_intersect(x.sh, y.sh)) AS n_common,
           len(list_distinct(list_concat(x.sh, y.sh))) AS n_union
    FROM cands
    JOIN sh_tbl x ON x.doc_id = doc_a
    JOIN sh_tbl y ON y.doc_id = doc_b
    WHERE {_JACCARD_06_SQL}
    """,
    doc="[EXT] The VERIFY stage of near-dup detection: exact shingle-set "
    "Jaccard (n-gram Jaccard) computed ONLY for LSH candidate pairs, kept "
    "at >= 0.6 — integer cross-multiplication instead of a float ratio so "
    "the threshold is exact on both engines.  Candidates→verify is the "
    "complete scalable near-dup pipeline (never an all-pairs product).",
    tags=("text", "dedup", "lsh"),
)
def docs_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_verified_frame(spark, sf_dir)


def _neardup_verified_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_common, n_union) — LSH candidates that passed the
    exact-Jaccard ≥ 0.6 verify; shared by docs_neardup_verified (the pair
    listing) and docs_neardup_clusters (the connected-components stage)."""
    corpus = _corpus_neardup(spark, sf_dir)
    # r17 note: a persist barrier here (the frame feeds three join
    # branches) was MEASURED 2x SLOWER at sf0.1 — materializing the
    # shingle arrays into the cache costs more than re-running the
    # narrow tokenize+shingle chain per branch, so the recompute stays.
    sh_tbl = (
        fan_out(corpus, "doc_id")
        .select("doc_id", tokens(_norm(F.col("text"))).alias("toks"))
        .select("doc_id", shingles(F.col("toks")).alias("sh"))
    )
    # column NAMES: fold + band keys build as memoized SQL strings (r18,
    # the lsh_table_keys_int convention — same expressions, one parse)
    banded = sh_tbl.select(
        "doc_id", F.size("sh").alias("n_sh"), minhash_array("sh").alias("mh")
    ).select(
        "doc_id",
        F.explode(band_keys_from_minhash("mh", "n_sh")).alias("bk"),
    )
    banded = banded.hint("shuffle_hash")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    # shingle arrays are per-doc distinct, so inclusion-exclusion gives the
    # union size from sizes alone — one set intersection per pair instead
    # of intersect + concat + array_distinct (per-pair cost stays O(|A|+|B|)
    # with a single hash-set build, matters when shingle sets are large)
    return (
        cands.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            (F.size("sh_a") + F.size("sh_b")).alias("n_ab"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("n_ab") - F.col("n_common")).alias("n_union"),
        )
        .filter(F.col("n_common") * 10 >= F.col("n_union") * 6)
    )


# ── near-dup cluster assignment (connected components) ───────────────────

_NEARDUP_VERIFIED_CTES = (
    _NEARDUP_BASE_CTES
    + f""",
    verified AS (
        SELECT doc_a, doc_b
        FROM cands
        JOIN sh_tbl x ON x.doc_id = doc_a
        JOIN sh_tbl y ON y.doc_id = doc_b
        WHERE {_JACCARD_06_SQL}
    )
"""
)


@query(
    "docs_neardup_clusters",
    "WITH RECURSIVE "
    + _NEARDUP_VERIFIED_CTES
    + """,
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach(src, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src
    )
    SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY src
    """,
    doc="[EXT] The FINAL stage of corpus near-dedup (r3 verdict #2): "
    "verified pairs collapsed into duplicate CLUSTERS via connected "
    "components — pairs (a,b),(b,c) become one group — with the component "
    "minimum doc_id as the deterministic cluster id / keeper.  Spark runs "
    "min-label propagation WITH path doubling to a detected fixpoint "
    "(each round two equi-joins + one min-aggregate over the tiny label "
    "table, lineage cut by localCheckpoint — the standard bounded-"
    "iteration graph shape, O(log diameter) rounds so even adversarial "
    "chain components converge inside the cap). "
    "The oracle recomputes components as a recursive transitive closure.",
    tags=("text", "dedup", "lsh", "graph", "bench"),
)
def docs_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.components import (
        connected_components,
    )

    pairs = _neardup_verified_frame(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "docs_neardup_keepers",
    "WITH RECURSIVE "
    + _NEARDUP_VERIFIED_CTES
    + """,
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach(src, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src
    ),
    clusters AS (
        SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY src
    )
    SELECT c.doc_id,
           (c.doc_id IN (SELECT cluster_id FROM clusters)) AS is_cluster_keeper
    FROM nd_corpus c
    WHERE c.doc_id NOT IN (
        SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
    )
    """,
    doc="[EXT] The near-dedup END PRODUCT, corpus in → deduped corpus out "
    "(r5 verdict #5, promoted from tests/test_components.py): anti-join "
    "the corpus against non-keeper cluster members (every doc whose "
    "component label differs from its own id), so exactly the component-"
    "minimum doc survives per near-dup cluster and docs in no cluster pass "
    "through untouched; is_cluster_keeper marks survivors that headed a "
    "multi-member cluster.  Scale shape: the cluster table is bounded by "
    "nodes-with-edges (≪ corpus), both joins are equi-joins on doc_id "
    "(LeftAnti + Left), and the corpus side never shuffles its payload — "
    "only doc_id rides the join.  Oracle = the recursive-CTE closure with "
    "the keeper anti-join as one NOT IN clause.",
    tags=("text", "dedup", "lsh", "graph"),
)
def docs_neardup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.components import (
        connected_components,
    )

    corpus = _corpus_neardup(spark, sf_dir).select("doc_id")
    pairs = _neardup_verified_frame(spark, sf_dir).select("doc_a", "doc_b")
    clusters = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    non_keepers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    keepers = (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
        .withColumn("_k", F.lit(True))
    )
    return (
        corpus.join(non_keepers, "doc_id", "left_anti")
        .join(keepers, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_k"), F.lit(False)).alias("is_cluster_keeper"),
        )
    )


# ── DocumentIngest driver gate: the streamed corpus-ingest pipeline ──────

#: per-process streamed DocumentIngest sink cache (the _MEDIA_INGEST_CACHE
#: convention — bench.py pops it to time the FULL drive)
_DOC_INGEST_CACHE: dict[str, str] = {}

_DOC_INGEST_BATCHES = 3
_DOC_INGEST_THRESHOLD = 60  # Jaccard >= 0.6, the pipeline default

#: md5-family LSH band keys over a (non-empty) shingle-list SQL fragment —
#: the banded CTE of _NEARDUP_BASE_CTES as a reusable expression, so the
#: ingest oracle and the batch near-dup rows can never gate different
#: banding semantics
_BAND_KEYS_SQL = """[
    CAST(b AS VARCHAR) || ':' ||
    list_aggregate([md5(CAST(2 * b AS VARCHAR) || ':' || s) for s in {sh}], 'min')
    || '|' ||
    list_aggregate([md5(CAST(2 * b + 1 AS VARCHAR) || ':' || s) for s in {sh}], 'min')
    for b in generate_series(0, 7)
]"""


def _doc_ingest_oracle() -> str:
    """Replay the FULL 3-batch DocumentIngest drive in SQL: per batch
    (pmod(doc_id, 3) arrival order) — shingle admission, exact-fingerprint
    collapse to the lowest id, intra-batch LSH one-join dedup, then the
    store filter against everything accepted by EARLIER batches.  Band
    keys, shingles and the integer cross-multiplied Jaccard threshold are
    the registry near-dup family's own fragments, so the streamed gate and
    the batch rows share one set of semantics."""

    def jacc(a: str, b: str) -> str:
        inter = f"len(list_intersect({a}.sh, {b}.sh))"
        return (
            f"{inter} * 100 >= "
            f"(len({a}.sh) + len({b}.sh) - {inter}) * {_DOC_INGEST_THRESHOLD}"
        )

    parts = [
        _CORPUS_NEARDUP_SQL,
        f""",
    feat AS MATERIALIZED (
        SELECT doc_id, doc_id % {_DOC_INGEST_BATCHES} AS b,
               {_FP_SQL} AS fp, {_shingles_sql(_TOKS_SQL)} AS sh
        FROM nd_corpus
    ),
    adm AS MATERIALIZED (SELECT * FROM feat WHERE len(sh) > 0),
    bk AS MATERIALIZED (
        SELECT doc_id, unnest({_BAND_KEYS_SQL.format(sh="sh")}) AS k
        FROM adm
    )""",
    ]
    accepted_union = []
    for b in range(_DOC_INGEST_BATCHES):
        # exact-fingerprint collapse (lowest id per fp, within the batch)
        parts.append(f""",
    c{b} AS (
        SELECT doc_id FROM adm WHERE b = {b}
        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    x{b} AS (
        SELECT DISTINCT kb.doc_id AS dropped
        FROM bk ka JOIN bk kb ON ka.k = kb.k AND ka.doc_id < kb.doc_id
        JOIN c{b} ia ON ia.doc_id = ka.doc_id
        JOIN c{b} ib ON ib.doc_id = kb.doc_id
        JOIN adm xa ON xa.doc_id = ka.doc_id
        JOIN adm xb ON xb.doc_id = kb.doc_id
        WHERE {jacc("xa", "xb")}
    ),
    e{b} AS (
        SELECT doc_id FROM c{b}
        WHERE doc_id NOT IN (SELECT dropped FROM x{b})
    )""")
        if b == 0:
            parts.append(",\n    a0 AS (SELECT doc_id FROM e0)")
        else:
            store = " UNION ALL ".join(
                f"SELECT doc_id FROM a{p}" for p in range(b)
            )
            parts.append(f""",
    s{b} AS (
        SELECT DISTINCT kq.doc_id AS rejected
        FROM bk kq JOIN bk kr ON kq.k = kr.k
        JOIN e{b} q ON q.doc_id = kq.doc_id
        JOIN ({store}) r ON r.doc_id = kr.doc_id
        JOIN adm xa ON xa.doc_id = kq.doc_id
        JOIN adm xb ON xb.doc_id = kr.doc_id
        WHERE {jacc("xa", "xb")}
    ),
    a{b} AS (
        SELECT doc_id FROM e{b}
        WHERE doc_id NOT IN (SELECT rejected FROM s{b})
    )""")
        accepted_union.append(f"SELECT doc_id FROM a{b}")
    body = "".join(parts)
    return f"""
    WITH {body}
    SELECT f.doc_id, f.fp, CAST(len(f.sh) AS BIGINT) AS n_sh
    FROM ({" UNION ALL ".join(accepted_union)}) acc
    JOIN feat f ON f.doc_id = acc.doc_id
    """


@query(
    "docs_doc_ingest_streamed",
    _doc_ingest_oracle(),
    doc="[EXT] DocumentIngest DRIVER-GATED (r16 — the r15 verdict's #1, "
    "the MediaIngest template applied to the fuzzy near-dup corpus "
    "pipeline): the planted nd_corpus lands as three pmod(doc_id) "
    "micro-batches through a real readStream + foreachBatch running "
    "streaming/ingest_pipeline.DocumentIngest — per-batch shingle "
    "admission, exact-fingerprint collapse, intra-batch LSH one-join "
    "dedup, store filter against the growing accepted corpus, "
    "sink-first/store-LAST crash ordering — and the accepted corpus must "
    "equal the batch replay with the ARRIVAL-ORDER keeper rule: a doc is "
    "rejected iff it is Jaccard>=0.6-similar (via a shared md5 band key) "
    "to a lower-id batchmate or to ANY doc accepted in an earlier batch "
    "— cross-batch the EARLIER batch wins even when it carries the "
    "HIGHER doc_id (PLANT_OFFSET % 3 = 1 guarantees both directions "
    "occur), which is exactly what an ingest gate guarantees and "
    "deliberately NOT the global lowest id.  The pipeline runs its "
    "hash_family='md5' (the registry near-dup family, "
    "operators/neardup_filter._HASH_FAMILIES) so the oracle replays the "
    "banding byte-for-byte; production keeps the measured-4x-faster "
    "xxhash64 default — same structure, same S-curve, same exact "
    "verify.  Scale shape per batch: narrow hash chain + equi-joins on "
    "band keys; the store grows by accepted docs only.  BENCH NOTE: the "
    "drive runs once per process; the median reports reading the "
    "persisted sink (docs_doc_ingest_streamed_drive times the full "
    "drive).",
    tags=("text", "dedup", "lsh", "streaming", "ingest"),
)
def docs_doc_ingest_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from kafka_streams_dead_letter_publishing_spark.plans.registry import (
        _capture_drive_stats,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.stores import store_exists
    from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (
        DocumentIngest,
    )

    sink = _DOC_INGEST_CACHE.get(sf_dir)
    if sink is None:
        corpus = _corpus_neardup(spark, sf_dir)
        base = tempfile.mkdtemp(prefix="doc-ingest-")
        src = f"{base}/src"

        # batch 1 lands before the query starts; batches 2 and 3 are
        # incremental appends between processAllAvailable barriers (the
        # docs_media_ingest_streamed placement) — pmod + coalesce puts
        # every row in exactly one batch
        def _slice(b: int):
            return corpus.filter(
                F.pmod(
                    F.coalesce(F.col("doc_id"), F.lit(0)),
                    F.lit(_DOC_INGEST_BATCHES),
                )
                == b
            ).coalesce(1)

        # r17: slices staged once per process, delivered by hardlink (the
        # events_asof_streamed note — fixture prep out of the timed drive)
        stage = stage_drive_slices(
            sf_dir,
            "docingest",
            {
                f"b{b}": (lambda b=b: _slice(b))
                for b in range(_DOC_INGEST_BATCHES)
            },
        )
        deliver_slice(stage, "b0", src)
        # fan_out_partitions: each 1-file micro-batch otherwise runs the
        # whole tokenize/shingle/minhash chain on one core (the r15
        # MediaIngest drive lesson); md5 family for oracle byte-parity
        ing = DocumentIngest(
            f"{base}/ingest",
            threshold_pct=_DOC_INGEST_THRESHOLD,
            hash_family="md5",
            fan_out_partitions=8,
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(ing.process_batch)
            .option("checkpointLocation", f"{base}/ck")
            .start()
        )
        try:
            q.processAllAvailable()
            for b in range(1, _DOC_INGEST_BATCHES):
                deliver_slice(stage, f"b{b}", src)
                q.processAllAvailable()
            _capture_drive_stats("docs_doc_ingest_streamed", sf_dir, q)
        finally:
            q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if not store_exists(spark, ing.corpus_path):
            return spark.createDataFrame([], "doc_id long, fp string, n_sh long")
        _DOC_INGEST_CACHE[sf_dir] = ing.corpus_path
        sink = ing.corpus_path
    # fan_out (r18, the r15 "per-row chain over a table scan" rule —
    # measured: this read-back ran the fingerprint+shingle chain on the
    # sink's ONE scan partition for 3.6 s of the drive's 9.8 s wall)
    accepted = fan_out(
        spark.read.schema("doc_id long, text string").parquet(sink), "doc_id"
    )
    return accepted.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.size(shingles(tokens(norm_text(F.col("text"))))).cast("long").alias("n_sh"),
    )


# NOTE (r15): docs_cdc_chunks (the md5-window CDC demo) was RETIRED
# from the driver registry at the 100-row hygiene cap to make room for
# the r15 adds (docs_media_ingest_streamed / docs_payload_video /
# docs_dhash_near_pairs).  Nothing is lost: the CDC semantics stay
# driver-checked every rotation through docs_cdc_gear_chunks — the
# incremental production variant, whose row doc records the measured
# cost ratio between the two — and this row moves to the RETIRED
# registry, so the edge-case batteries still run it against its oracle
# verbatim (tests/test_oracle_edge_cases.py).
@retired_query(
    "docs_cdc_chunks",
    f"""
    SELECT doc_id,
           CAST(len(list_filter(generate_series(1, length(text) - 7),
                    i -> substring(md5(substring(text, i, 8)), 1, 1) = '0'))
                AS BIGINT) AS n_boundaries,
           COALESCE(CAST(list_min(list_filter(generate_series(1, length(text) - 7),
                    i -> substring(md5(substring(text, i, 8)), 1, 1) = '0'))
                AS BIGINT), CAST(0 AS BIGINT)) AS first_boundary
    FROM documents
    """,
    doc="[EXT] Content-defined chunking fingerprint (rolling-hash family): "
    "a position is a chunk boundary when the hash of its 8-char window "
    "starts with '0' (expected rate 1/16) — the dedup-friendly chunking "
    "scheme whose boundaries survive insertions/deletions, md5-windowed "
    "for engine portability.  The oracle-portable demo next to "
    "docs_cdc_gear_chunks, the incremental production variant.",
    tags=("text", "fingerprint"),
)
def docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: one md5 per text position is the costliest narrow stage in
    # this module — on the single-file scan's one partition it would run on
    # one core (its gear sibling already fans out; without this the bench
    # comparison would partly measure the missing repartition)
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # guard: Spark's sequence(1, n) is DESCENDING for n < 1, not empty
    positions = F.when(
        F.length("text") >= 8, F.sequence(F.lit(1), F.length("text") - 7)
    ).otherwise(F.array().cast("array<int>"))
    staged = docs.select(
        "doc_id",
        F.filter(
            positions,
            lambda i: F.substring(F.md5(F.col("text").substr(i, F.lit(8))), 1, 1) == "0",
        ).alias("bounds"),
    )
    return staged.select(
        "doc_id",
        F.size("bounds").cast("bigint").alias("n_boundaries"),
        F.coalesce(F.array_min("bounds").cast("bigint"), F.lit(0).cast("bigint")).alias(
            "first_boundary"
        ),
    )


# ── gear-hash CDC (the incremental production variant) ───────────────────
#
# Gear table: 256 deterministic 24-bit constants derived from md5 so both
# engines embed the SAME literals.  Rolling hash h ← (2·h + gear[cp % 256])
# mod 2³² where cp is the character's Unicode codepoint (mod 256 keeps the
# lookup in-table for non-ASCII text — both engines index identically),
# boundary when (h & GEAR_MASK) == 0 — the mask's 6 bits are
# SPREAD across bits 8..28 (real gear-CDC practice): with a low mask the
# shift-by-1 would make the decision depend on only the last log2(mask)
# bytes.  2³² windowing identity: since 2^j ≡ 0 (mod 2³²) for j ≥ 32,
#     h_p ≡ Σ_{j=0..31} gear[b_{p-j}] · 2^j   (mod 2³²)
# — a 32-byte windowed sum (max < 2⁶⁰: gear < 2²⁴, so no bigint overflow).
# The Spark side runs the TRUE O(1)-state rolling fold (one constant-size
# struct per doc, ~8 interpreted ops/byte — no md5, no per-position
# window); the oracle reproduces the windowed identity per position.

GEAR: list[int] = [
    int(hashlib.md5(f"gear:{i}".encode()).hexdigest()[:6], 16) for i in range(256)
]
GEAR_MASK = (1 << 8) | (1 << 12) | (1 << 16) | (1 << 20) | (1 << 24) | (1 << 28)
_TWO32 = 2**32

_GEAR_SQL = "[" + ", ".join(f"CAST({g} AS BIGINT)" for g in GEAR) + "]"

# Σ_{j=0..31} gear[b_{p-j}]·2^j with short-window guards for p ≤ 31
# (BIGINT throughout: terms reach 2^55 and the sum 2^60)
_GEAR_WINDOW_SUM = " + ".join(
    f"(CASE WHEN p >= {j + 1} THEN g[p - {j}] * CAST({2**j} AS BIGINT) "
    f"ELSE CAST(0 AS BIGINT) END)"
    for j in range(32)
)


@query(
    "docs_cdc_gear_chunks",
    f"""
    WITH ag AS (
        SELECT doc_id,
               [({_GEAR_SQL})[ord(substring(text, p, 1)) % 256 + 1]
                for p in generate_series(1, length(text))] AS g
        FROM documents
    ),
    bs AS (
        SELECT doc_id,
               list_filter(generate_series(1, len(g)),
                           p -> ({_GEAR_WINDOW_SUM}) & {GEAR_MASK} = 0) AS bounds
        FROM ag
    )
    SELECT doc_id,
           CAST(len(bounds) AS BIGINT) AS n_boundaries,
           COALESCE(CAST(bounds[1] AS BIGINT), CAST(0 AS BIGINT)) AS first_boundary
    FROM bs
    """,
    doc="[EXT] Content-defined chunking with an INCREMENTAL rolling gear "
    "hash (the production CDC variant next to the md5-window demo): "
    "h ← (2·h + gear[byte]) mod 2³², boundary when the spread-bit mask "
    "clears (rate 1/64).  Spark folds the document once with a constant-"
    "size accumulator — the hash UPDATE is ~11× cheaper per position than "
    "the md5 variant's hash-per-window (0.15 µs vs 1.67 µs single-core at "
    "sf0.1).  End-to-end at toy SF the md5 demo measured FASTER "
    "(r6: 0.33 vs 0.47 s once both fan out — its per-window hashes run as "
    "a vectorized filter while this rolling fold pays interpreted per-char "
    "bookkeeping); the gear variant's advantage is the O(1) state and "
    "cheap update, which wins when windows grow or the per-window hash "
    "dominates.  (The md5 demo row docs_cdc_chunks moved to the RETIRED "
    "registry r15 — edge-tested, no rotation slot.)  The oracle "
    "reproduces the rolling hash through the exact 32-byte windowed-sum "
    "identity (2^j ≡ 0 mod 2³² for j ≥ 32).",
    tags=("text", "fingerprint", "bench"),
)
def docs_cdc_gear_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gear = F.expr("array(" + ", ".join(str(g) + "L" for g in GEAR) + ")")
    chars = F.when(F.length("text") > 0, F.split("text", "")).otherwise(
        F.array().cast("array<string>")
    )
    # true rolling fold over the chars, gear lookup inlined in the step
    # (a separate transform() stage measured strictly slower: one fewer
    # array materialization wins); state is one 4-field struct per doc
    init = F.struct(
        F.lit(0).cast("bigint").alias("h"),
        F.lit(0).alias("pos"),
        F.lit(0).cast("bigint").alias("n"),
        F.lit(None).cast("bigint").alias("first"),
    )

    def step(acc, c):
        # gear index = codepoint mod 256 on BOTH engines: ascii()/ord()
        # return the full Unicode codepoint, and an un-modded lookup past
        # index 256 is NULL — which would poison the rolling hash for the
        # rest of the document on the Spark side only (oracle's per-position
        # window recovers after 32 chars), silently losing every later
        # boundary on any non-ASCII document (r3 ADVICE)
        nh = F.pmod(acc["h"] * 2 + F.element_at(gear, F.pmod(F.ascii(c), F.lit(256)) + 1), F.lit(_TWO32))
        bound = nh.bitwiseAND(F.lit(GEAR_MASK)) == 0
        return F.struct(
            nh.alias("h"),
            (acc["pos"] + 1).alias("pos"),
            (acc["n"] + F.when(bound, 1).otherwise(0)).alias("n"),
            F.coalesce(
                acc["first"], F.when(bound, (acc["pos"] + 1).cast("bigint"))
            ).alias("first"),
        )

    folded = fan_out(docs, "doc_id").select(
        "doc_id", F.aggregate(chars, init, step).alias("acc")
    )
    return folded.select(
        "doc_id",
        F.col("acc.n").alias("n_boundaries"),
        F.coalesce(F.col("acc.first"), F.lit(0).cast("bigint")).alias("first_boundary"),
    )


# NOTE (r14): events_approx_distinct_users (approx_count_distinct /
# HyperLogLog++) was RETIRED from the registry at the 100-row hygiene
# cap — it was the registry's ONLY rows-only row (HLL register layouts
# are engine-specific, so it could never carry a value oracle), and the
# approximate-distinct semantic is now covered STRONGER by the fully
# oracle-replayable KMV family (events_kmv_streamed_distinct +
# events_kmv_set_ops — exact-integer estimates, hash-green).  With this
# retirement every registered query carries a value-hash oracle.  The
# Spark-native HLL path stays pytest-pinned here (tests/test_plans.py
# smoke) and remains the production choice when register-level merge
# with other HLL systems matters.
def events_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] approx_count_distinct (HyperLogLog++) users per event type —
    engine-specific sketch, no cross-engine value oracle possible."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "docs_simhash_hamming_pairs",
    "WITH " + _CORPUS_NEARDUP_SQL
    + f""",
    sims AS MATERIALIZED (
        SELECT doc_id, {simhash64_sql("sh")} AS sim
        FROM (SELECT doc_id, {_shingles_sql(_TOKS_SQL)} AS sh FROM nd_corpus)
    ),
    banded AS MATERIALIZED (
        SELECT doc_id, sim, b, (sim >> (16 * b)) & 65535 AS chunk
        FROM sims, generate_series(0, 3) g(b)
        WHERE sim IS NOT NULL
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sim, b.sim)) AS hd
    FROM banded a JOIN banded b
      ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    GROUP BY doc_a, doc_b, hd
    """,
    doc="[EXT] SimHash Hamming-distance near-dup: pigeonhole banding (4 "
    "16-bit chunks of the 64-bit simhash — any pair within Hamming distance "
    "3 must share at least one unchanged chunk) gates an equi-join, then "
    "exact bit_count(xor) verification ≤ 3.  The constant-size-fingerprint "
    "dedup path: no shingle sets at pair time, pure bitwise ops.  The "
    "4×65536-key band space keeps candidates ≈N²/262144 (the r2 32-bit/"
    "8-bit variant had only 1024 keys — quadratic by 1e8 docs).",
    tags=("text", "dedup", "simhash"),
)
def docs_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_neardup(spark, sf_dir)
    # no isNotNull filter here: predicate pushdown would substitute the
    # whole simhash expression into a Filter BELOW the projection (computed
    # twice per row); a NULL sim yields NULL chunks which can never satisfy
    # the equi-join, so the filter is implicit
    sims = (
        fan_out(corpus, "doc_id")
        .select("doc_id", tokens(_norm(F.col("text"))).alias("toks"))
        .select("doc_id", shingles(F.col("toks")).alias("sh"))
        .select("doc_id", simhash64(F.col("sh")).alias("sim"))
    )
    # chunk is COALESCEd non-null: the join-key IsNotNull constraint the
    # optimizer infers would otherwise be pushed below the projections by
    # substitution — evaluating the entire simhash pipeline again inside a
    # scan-level Filter on both join sides (measured 30s → 3s). A NULL sim
    # (impossible here: every doc has ≥3 tokens) would band as -1 and any
    # such pair is still dropped by the NULL-propagating hd residual.
    # shiftright is arithmetic (sign-extending) but the & 65535 mask keeps
    # exactly bits 16b..16b+15, so negative sims (bit 63 set) band correctly.
    banded = sims.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.coalesce(
                            F.shiftright("sim", SIMHASH_CHUNK_BITS * b).bitwiseAND(
                                F.lit(65535)
                            ),
                            F.lit(-1),
                        ).alias("chunk"),
                    )
                    for b in range(SIMHASH_N_CHUNKS)
                ]
            )
        ).alias("bc"),
    ).select("doc_id", "sim", F.col("bc.b").alias("b"), F.col("bc.chunk").alias("chunk"))
    a, b = banded.alias("a"), banded.alias("b")
    hd = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    # the filter is NULL-TOLERANT (coalesce to an over-threshold sentinel):
    # a bare `hd <= 3` lets the optimizer infer IsNotNull(sim) and push it
    # below the projections BY SUBSTITUTION — re-evaluating the entire
    # simhash pipeline inside scan-level Filters on both join sides
    # (measured 40s → 4s for the same result)
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.coalesce(hd, F.lit(4)) <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hd.alias("hd"),
        )
        .distinct()
    )


# NOTE: r2's docs_simhash (per-document signature listing) was folded away
# per the r2 verdict — docs_simhash_hamming_pairs computes the identical
# signature inline and oracles it end-to-end, so the operator keeps its
# driver CORRECTNESS row through the pairs query.


# ── language ID / quality / token counting ───────────────────────────────


def _marker_count_sql(toks_sql: str, markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({toks_sql}, t -> t IN ({lst})))"


# NOTE (r17): docs_lang_distribution RETIRED from the driver rotation at
# the 100-row hygiene cap to make room for docs_budget_ingest_streamed
# (the last streaming pipeline without a driver gate).  Nothing is lost:
# lang_guess stays driver-checked every rotation through
# docs_clean_corpus_pipeline (the lang gate inside the composed funnel)
# and docs_quality_funnel, and this row's exact cross-tab oracle keeps
# running verbatim in the edge-case batteries
# (tests/test_oracle_edge_cases.py falls back to plans.RETIRED).
@retired_query(
    "docs_lang_distribution",
    f"""
    SELECT lang, lang_guessed, COUNT(*) AS n_docs
    FROM (
        SELECT lang,
               CASE WHEN en > es AND en > de THEN 'en'
                    WHEN es > en AND es > de THEN 'es'
                    WHEN de > en AND de > es THEN 'de'
                    ELSE 'und' END AS lang_guessed
        FROM (
            SELECT lang,
                   {_marker_count_sql("toks", LANG_MARKERS["en"])} AS en,
                   {_marker_count_sql("toks", LANG_MARKERS["es"])} AS es,
                   {_marker_count_sql("toks", LANG_MARKERS["de"])} AS de
            FROM (SELECT lang, {_TOKS_SQL} AS toks FROM documents)
        )
    )
    GROUP BY lang, lang_guessed
    """,
    doc="[EXT] Language ID (marker-vocabulary n-gram heuristic, strict "
    "majority) cross-tabulated against the labeled lang column.  RETIRED "
    "r17 (slot for docs_budget_ingest_streamed); lang_guess stays "
    "driver-checked via docs_clean_corpus_pipeline / docs_quality_funnel.",
    tags=("text", "langid"),
)
def docs_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # stage toks first (functions/text.py contract): lang_guess runs three
    # F.filter passes over its input, and an inlined regexp+split chain gets
    # re-evaluated by each — higher-order functions get no codegen
    # subexpression elimination
    staged = docs.select("lang", tokens(_norm(F.col("text"))).alias("toks"))
    return (
        staged.select("lang", lang_guess(F.col("toks")).alias("lang_guessed"))
        .groupBy("lang", "lang_guessed")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def docs_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-document quality scoring: token count, stopword count /
    ratio, character length — narrow per-row expressions.

    DE-REGISTERED r12 (registry hygiene, the r11 verdict's candidate
    list): every surface stays oracled through the composite —
    `docs_quality_funnel` carries the full per-doc quality verdict
    stack hash-green, and the token/stopword expressions are pinned
    Python-reference-exact in tests/test_quality_rules.py.  The function
    remains a library surface."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # stage toks, then score: the inline form re-evaluates the regexp+split
    # chain inside every F.size / stopword_count F.filter (no codegen
    # subexpression elimination across higher-order functions)
    staged = docs.select(
        "doc_id", F.length("text").alias("n_chars_actual"), tokens(_norm(F.col("text"))).alias("toks")
    )
    toks = F.col("toks")
    n_stop = stopword_count(toks)
    return staged.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / F.size(toks).cast("double")).alias("stopword_ratio"),
        "n_chars_actual",
    )


@query(
    "docs_pii_redaction",
    f"""
    WITH pii_corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or 10.0.'
                         || CAST(doc_id % 256 AS VARCHAR) || '.7'
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(regexp_replace(text, '{PII_EMAIL_RE}',
               '<EMAIL>', 'g'), '{PII_IPV4_RE}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}',
               '<EMAIL>', 'g'), '{PII_IPV4_RE}', '<IP>', 'g')) AS red_fp
    FROM pii_corpus
    """,
    doc="[EXT] PII redaction audit (functions/text.py redact_pii / "
    "pii_counts): email + IPv4 scrub over a corpus with deterministically "
    "planted contact lines (every 5th doc) — per-doc match counts and the "
    "md5 of the redacted text, so the oracle pins the replacement "
    "byte-for-byte, not just the counts.  Patterns live in the Java∩RE2 "
    "regex subset; per-row narrow, zero shuffles.",
    tags=("text", "pii", "quality"),
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.functions.text import (
        pii_counts,
        redact_pii,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.col("text")),
    )
    c = pii_counts(F.col("text"))
    return planted.select(
        "doc_id",
        c["n_emails"].cast("long").alias("n_emails"),
        c["n_ips"].cast("long").alias("n_ips"),
        F.md5(redact_pii(F.col("text"))).alias("red_fp"),
    )


#: the full per-document Gopher repetition table as ONE oracle SQL —
#: shared by the per-doc registry row and the corpus card's flagged-
#: doc count (r9 card v2)
_GOPHER_DOC_SQL = f"""
    WITH lines AS (
        SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
                              l -> len(trim(l)) > 0)) AS line
        FROM documents
    ),
    line_groups AS (
        SELECT doc_id, line, COUNT(*) AS cnt FROM lines GROUP BY doc_id, line
    ),
    line_stats AS (
        SELECT doc_id, SUM(cnt) AS n_lines,
               SUM(cnt - 1) AS dup_lines,
               SUM((cnt - 1) * len(line)) AS dup_chars
        FROM line_groups GROUP BY doc_id
    ),
    toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams2 AS (
        SELECT doc_id, unnest([t[i] || ' ' || t[i + 1]
                               FOR i IN generate_series(1, len(t) - 1)]) AS gram
        FROM toks WHERE len(t) >= 2
    ),
    gram2_groups AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM grams2 GROUP BY doc_id, gram
    ),
    top2 AS (
        SELECT doc_id, gram, cnt FROM (
            SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram ASC) AS rn
            FROM gram2_groups) WHERE rn = 1
    ),
    grams3 AS (
        SELECT doc_id, unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                               FOR i IN generate_series(1, len(t) - 2)]) AS gram
        FROM toks WHERE len(t) >= 3
    ),
    gram3_groups AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM grams3 GROUP BY doc_id, gram
    ),
    top3 AS (
        SELECT doc_id, gram, cnt FROM (
            SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram ASC) AS rn
            FROM gram3_groups) WHERE rn = 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(ls.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(ls.dup_lines, 0) AS BIGINT) AS dup_lines,
           CAST(COALESCE(ls.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           t2.gram AS top2_gram,
           CAST(COALESCE(t2.cnt, 0) AS BIGINT) AS top2_count,
           CAST(COALESCE(t2.cnt * len(t2.gram), 0) AS BIGINT) AS top2_chars,
           t3.gram AS top3_gram,
           CAST(COALESCE(t3.cnt, 0) AS BIGINT) AS top3_count,
           CAST(COALESCE(t3.cnt * len(t3.gram), 0) AS BIGINT) AS top3_chars,
           ((COALESCE(ls.n_lines, 0) = 0)
            OR (CAST(COALESCE(ls.dup_lines, 0) AS DOUBLE)
                    <= CAST(0.30 AS DOUBLE) * COALESCE(ls.n_lines, 0)
                AND CAST(COALESCE(ls.dup_chars, 0) AS DOUBLE)
                    <= CAST(0.20 AS DOUBLE) * length(d.text)))
           AND (COALESCE(t2.cnt, 0) <= 1
                OR CAST(COALESCE(t2.cnt * len(t2.gram), 0) AS DOUBLE)
                    <= CAST(0.20 AS DOUBLE) * length(d.text))
           AND (COALESCE(t3.cnt, 0) <= 1
                OR CAST(COALESCE(t3.cnt * len(t3.gram), 0) AS DOUBLE)
                    <= CAST(0.18 AS DOUBLE) * length(d.text))
           AS keep
    FROM documents d
    LEFT JOIN line_stats ls ON d.doc_id = ls.doc_id
    LEFT JOIN top2 t2 ON d.doc_id = t2.doc_id
    LEFT JOIN top3 t3 ON d.doc_id = t3.doc_id
    """


@query(
    "docs_gopher_repetition",
    _GOPHER_DOC_SQL,
    doc="[EXT] Gopher/MassiveText repetition-quality rules (Rae et al. "
    "2021, §A1.1) per document: duplicate-line count/character mass, the "
    "dominant 2-/3-gram and the characters it spans, and the composed "
    "keep predicate (functions/quality.py) — the engine's O(n log n) "
    "sorted-run folds vs the oracle's relational unnest→group→window "
    "form.  Per-row narrow expressions, zero shuffles, zero Python.",
    tags=("text", "quality", "gopher"),
)
def docs_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.functions.quality import (
        duplicate_line_stats,
        top_ngram_stats,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # stage toks behind the select barrier (functions/text.py contract:
    # higher-order folds get no codegen subexpression elimination, so an
    # inlined tokenize chain would re-evaluate per gram position)
    staged = docs.select(
        "doc_id", "text", tokens(_norm(F.col("text"))).alias("toks")
    )
    ls = duplicate_line_stats(F.col("text"))
    g2 = top_ngram_stats(F.col("toks"), 2)
    g3 = top_ngram_stats(F.col("toks"), 3)
    scored = staged.select(
        "doc_id",
        ls["n_lines"].cast("long").alias("n_lines"),
        ls["dup_lines"].cast("long").alias("dup_lines"),
        ls["dup_chars"].cast("long").alias("dup_chars"),
        F.length("text").cast("long").alias("n_chars"),
        g2["gram"].alias("top2_gram"),
        g2["count"].cast("long").alias("top2_count"),
        g2["chars"].cast("long").alias("top2_chars"),
        g3["gram"].alias("top3_gram"),
        g3["count"].cast("long").alias("top3_count"),
        g3["chars"].cast("long").alias("top3_chars"),
    )
    # keep from the ALREADY-COMPUTED stats (gopher_repetition_keep's
    # published default thresholds, same comparisons) — calling the
    # function here would re-run all three sorted-run folds per row,
    # doubling the query's cost (no subexpression elimination across
    # higher-order functions); the composed function itself is pinned by
    # tests/test_quality_rules.py and exercised by DocumentIngest
    line_ok = (F.col("n_lines") == 0) | (
        (F.col("dup_lines") <= F.lit(0.30) * F.col("n_lines"))
        & (F.col("dup_chars") <= F.lit(0.20) * F.col("n_chars"))
    )
    g2_ok = (F.col("top2_count") <= 1) | (
        F.col("top2_chars") <= F.lit(0.20) * F.col("n_chars")
    )
    g3_ok = (F.col("top3_count") <= 1) | (
        F.col("top3_chars") <= F.lit(0.18) * F.col("n_chars")
    )
    return scored.withColumn("keep", line_ok & g2_ok & g3_ok)


@query(
    "docs_line_dedup",
    """
    WITH boiler AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || chr(10) || 'subscribe to our newsletter today'
                    ELSE text END AS text
        FROM documents
    ),
    lines AS (
        SELECT doc_id,
               unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos,
               unnest(string_split(text, chr(10))) AS line
        FROM boiler
    ),
    flagged AS (
        SELECT doc_id, pos, line,
               (len(trim(line)) = 0
                OR ROW_NUMBER() OVER (PARTITION BY line
                                      ORDER BY doc_id, pos) = 1) AS keep
        FROM lines
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                                   ORDER BY pos), '')) AS new_fp
    FROM flagged
    GROUP BY doc_id
    """,
    doc="[EXT] Corpus-wide exact line dedup (C4/RefinedWeb-style "
    "boilerplate removal): every NON-BLANK line that appears anywhere "
    "else in the corpus is kept only at its first occurrence (lowest "
    "(doc_id, position)); blank lines always survive.  Planted "
    "boilerplate ('subscribe...' appended to every 3rd doc) proves the "
    "cross-document removal; the rebuilt text's md5 pins the surviving "
    "line order byte-for-byte.  Shape (r8 de-skew): blank lines never "
    "enter the shuffle at all, and the first occurrence comes from "
    "groupBy(line).agg(min(struct(doc_id,pos))) — partial aggregation "
    "collapses a hot boilerplate line MAP-SIDE (one row per task reaches "
    "the shuffle), where the previous Window.partitionBy(line) funneled "
    "every occurrence of a hot line through one task's sort.  The winner "
    "join-back is skewed on the same hot lines but is AQE-skew-splittable "
    "(a join, not a window); plan gate: tests/test_plans.py.  r9: the "
    "dedup key is md5(line) — fixed 32 chars through the aggregation and "
    "join-back shuffles; raw line bytes ride only as rebuild payload "
    "(oracle keys on the raw line: equal modulo md5 collisions).",
    tags=("text", "dedup", "lines", "bench"),
)
def docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    boiler = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\nsubscribe to our newsletter today")),
        ).otherwise(F.col("text")),
    )
    lines = boiler.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos0", "line")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "line")
    # r9: dedup on the fixed-width md5 of the line (the ingest form's key),
    # not the raw text — the winners aggregation and join-back then shuffle
    # 32-char keys instead of arbitrary-length line bytes; the raw line
    # rides along only as payload for the rebuild.  blank_col is passed
    # because blankness is not derivable from a hash.
    keyed = lines.withColumn("lfp", F.md5("line")).withColumn(
        "blank", F.coalesce(F.length(F.trim("line")) == 0, F.lit(True))
    )
    flagged = corpus_line_first_occurrence(
        keyed, line_col="lfp", id_col="doc_id", pos_col="pos", blank_col="blank"
    )
    rebuilt = F.concat_ws(
        "\n",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep"), F.struct("pos", "line"))
                )
            ),
            lambda x: x["line"],
        ),
    )
    return flagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("long").alias("n_dropped"),
        F.md5(rebuilt).alias("new_fp"),
    )


@query(
    "docs_clean_corpus_pipeline",
    "WITH " + _CORPUS_EXACT_SQL
    + f""",
    scored AS (
        SELECT doc_id, text, {_FP_SQL} AS fp,
               len({_TOKS_SQL}) AS n_tokens,
               {_marker_count_sql(_TOKS_SQL, STOPWORDS)} AS n_stop,
               {_marker_count_sql(_TOKS_SQL, LANG_MARKERS["en"])} AS en,
               {_marker_count_sql(_TOKS_SQL, LANG_MARKERS["es"])} AS es,
               {_marker_count_sql(_TOKS_SQL, LANG_MARKERS["de"])} AS de
        FROM corpus
    ),
    filtered AS (
        SELECT * FROM scored
        WHERE n_tokens >= 20
          AND n_stop * 100 >= n_tokens * 5
          AND en > es AND en > de
    ),
    deduped AS (
        SELECT fp, MIN(doc_id) AS doc_id FROM filtered GROUP BY fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM deduped
    """,
    doc="[EXT] The composed corpus-cleaning pipeline in ONE declarative "
    "query — quality filter (length + stopword-ratio via integer "
    "cross-multiplication), marker-majority language filter (en), exact "
    "dedup pick-first — i.e. the standard LLM training-data prep flow; "
    "Catalyst fuses all per-row stages into one pass before the dedup "
    "shuffle.  Keeper pick (r9 de-skew): downstream only aggregates over "
    "keepers, so the keeper IS groupBy(fp).agg(min(doc_id)) — a hash "
    "aggregate whose map-side PARTIAL step collapses a mass-duplicated "
    "boilerplate fingerprint (parked domains, licence pages — the hot "
    "keys of web-scale exact dedup) to one row per task before the "
    "shuffle; the previous Window.partitionBy(fp)+row_number funneled "
    "every occurrence of a hot fp through one task's sort.  Window-free "
    "plan gated in tests/test_plans.py.",
    tags=("text", "dedup", "quality", "pipeline"),
)
def docs_clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_exact(spark, sf_dir)
    toks = F.col("toks")
    scored = (
        fan_out(corpus, "doc_id")
        .select("doc_id", "text", tokens(_norm(F.col("text"))).alias("toks"))
        .select(
            "doc_id",
            fingerprint(F.col("text")).alias("fp"),
            F.size(toks).alias("n_tokens"),
            stopword_count(toks).alias("n_stop"),
            lang_guess(toks).alias("lang_guessed"),
        )
    )
    filtered = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_stop") * 100 >= F.col("n_tokens") * 5)
        & (F.col("lang_guessed") == "en")
    )
    deduped = filtered.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return deduped.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "docs_token_budget_sample",
    f"""
    WITH scored AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM scored),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS running_tokens
        FROM scored
    )
    SELECT doc_id, n_tokens, running_tokens
    FROM cum WHERE running_tokens <= (SELECT t // 2 FROM tot)
    """,
    doc="[EXT] Token-budget corpus sampling (operators/budget.py): fill "
    "half the corpus's token budget by walking documents in "
    "deterministic md5(id) order and keeping every doc whose running "
    "token total fits — the mixture-building step of a pretraining "
    "pipeline.  The oracle's global cumulative-sum window is exactly "
    "what the engine must NOT do at scale (Exchange SinglePartition); "
    "the engine runs the distributed two-phase prefix-sum instead: "
    "per-bucket sums -> driver prefix over #buckets metadata rows -> "
    "bucket-partitioned windows, plan-gated single-partition-free.",
    tags=("text", "tokens", "sampling", "scale"),
)
def docs_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        token_budget_sample,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    scored = docs.select(
        "doc_id", F.size(tokens(_norm(F.col("text")))).cast("long").alias("n_tokens")
    )
    # one scalar to the driver (the budget), not data; SUM over an empty
    # corpus is NULL -> budget 0 -> empty sample (matches the oracle)
    total = scored.agg(F.sum("n_tokens")).collect()[0][0] or 0
    return token_budget_sample(scored, "n_tokens", int(total) // 2)


@query(
    "docs_source_mixture_sample",
    f"""
    WITH scored AS (
        SELECT source, doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS ns
            FROM scored),
    cum AS (
        SELECT source, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS running_tokens
        FROM scored
    )
    SELECT source, doc_id, n_tokens, running_tokens
    FROM cum WHERE running_tokens <= (SELECT (t // 4) // ns FROM tot)
    """,
    doc="[EXT] Source-balanced mixture sampling (operators/budget.py, "
    "group_col form): give every source an equal share of a quarter of "
    "the corpus's token budget, each filled by the deterministic "
    "md5-order greedy walk WITHIN that source — the mixture-building "
    "step ('40% web, 30% books...') of a pretraining pipeline with "
    "equal weights.  Same two-phase prefix-sum scale shape as "
    "docs_token_budget_sample, windows partitioned by (source, bucket).",
    tags=("text", "tokens", "sampling", "mixture", "scale"),
)
def docs_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        token_budget_sample,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    scored = docs.select(
        "source",
        "doc_id",
        F.size(tokens(_norm(F.col("text")))).cast("long").alias("n_tokens"),
    )
    # two scalars to the driver (overall budget + source count), not data;
    # empty corpus: SUM is NULL and ns is 0 -> budget 0 -> empty sample
    tot = scored.agg(
        F.sum("n_tokens").alias("t"), F.countDistinct("source").alias("ns")
    ).collect()[0]
    ns = int(tot["ns"])
    per_source = ((int(tot["t"] or 0) // 4) // ns) if ns else 0
    return token_budget_sample(
        scored, "n_tokens", per_source, group_col="source"
    )


# ── BudgetIngest driver gate: the budget-capped streaming ingest ─────────

#: per-process streamed BudgetCappedIngest sink cache (the
#: _DOC_INGEST_CACHE convention — bench.py pops it to time the FULL drive)
_BUDGET_INGEST_CACHE: dict[str, str] = {}

_BUDGET_INGEST_BATCHES = 3


def _budget_ingest_oracle() -> str:
    """Replay the FULL 3-batch BudgetCappedIngest drive in SQL: budgets
    are half of each source's corpus-wide token total; per batch
    (pmod(doc_id, 3) arrival order) the greedy md5(doc_id)-order walk
    WITHIN each source admits rows whose running total fits the source's
    REMAINING budget — total minus what EARLIER batches' acceptees spent
    (the cross-batch high-watermark).  Unrolled per-batch CTEs, the
    docs_doc_ingest_streamed template; the running-sum window and token
    expression are the docs_token_budget_sample oracle's own fragments,
    so the streamed gate and the batch sampler share one set of
    semantics."""
    parts = [
        f"""
    scored AS MATERIALIZED (
        SELECT doc_id, source,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               doc_id % {_BUDGET_INGEST_BATCHES} AS b
        FROM documents
    ),
    bud AS MATERIALIZED (
        SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS bt
        FROM scored GROUP BY source
    )"""
    ]
    unions = []
    for b in range(_BUDGET_INGEST_BATCHES):
        if b == 0:
            rem = "bud.bt"
            spent_join = ""
        else:
            spent_union = " UNION ALL ".join(
                f"SELECT source, n_tokens FROM a{p}" for p in range(b)
            )
            parts.append(f""",
    sp{b} AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS s
        FROM ({spent_union}) GROUP BY source
    )""")
            rem = f"bud.bt - COALESCE(sp{b}.s, 0)"
            spent_join = f"LEFT JOIN sp{b} USING (source)\n        "
        parts.append(f""",
    a{b} AS (
        SELECT c.doc_id, c.source, c.n_tokens
        FROM (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS rt
            FROM scored WHERE b = {b}
        ) c
        JOIN bud USING (source)
        {spent_join}WHERE c.rt <= {rem}
    )""")
        unions.append(f"SELECT doc_id, source, n_tokens FROM a{b}")
    body = "".join(parts)
    return f"""
    WITH {body}
    {" UNION ALL ".join(unions)}
    """


@query(
    "docs_budget_ingest_streamed",
    _budget_ingest_oracle(),
    doc="[EXT] BudgetCappedIngest DRIVER-GATED (r17 — the r16 verdict's "
    "#1, the 4x-proven streamed-gate template applied to the last "
    "pipeline with real admission semantics and no registry row): the "
    "documents table lands as three pmod(doc_id) micro-batches through a "
    "real readStream + foreachBatch running "
    "streaming/budget_ingest.BudgetCappedIngest with per-source budgets "
    "of HALF each source's corpus-wide token total — per batch the "
    "greedy md5-order walk within each source admits rows up to the "
    "source's REMAINING budget (total minus earlier batches' spend, the "
    "cross-batch high-watermark), survivors append to the corpus, and "
    "the totals store gains one delta row per accepted source plus the "
    "batch-marker row.  The drive then RE-DELIVERS batch 0 through a "
    "FRESH instance over the same base_dir: its id is <= the durable "
    "batch-id high-watermark, so the exactly-once marker skip must make "
    "the replay a no-op — a broken skip duplicates corpus rows and "
    "hash-mismatches the oracle, so the exactly-once accounting is "
    "itself driver-gated.  Scale shape per batch: one narrow token "
    "scoring pass + the distributed two-phase prefix-sum "
    "(operators/prefix.py — never a single-partition window); the "
    "remaining-budget lookup is O(#sources) driver metadata maintained "
    "incrementally (the totals store is read once per driver lifetime). "
    " BENCH NOTE: the drive runs once per process; "
    "docs_budget_ingest_streamed_drive times the full drive.",
    tags=("text", "tokens", "sampling", "streaming", "ingest"),
)
def docs_budget_ingest_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from kafka_streams_dead_letter_publishing_spark.plans.registry import (
        _capture_drive_stats,
    )
    from kafka_streams_dead_letter_publishing_spark.streaming.budget_ingest import (
        BudgetCappedIngest,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.stores import store_exists

    sink = _BUDGET_INGEST_CACHE.get(sf_dir)
    if sink is None:
        docs = load_table(spark, sf_dir, "documents")
        # budgets: half of each source's total tokens — #sources scalar
        # rows to the driver (config-sized metadata, the same aggregate
        # shape as docs_token_budget_sample's single budget scalar)
        per_src = (
            docs.select(
                "source",
                F.size(tokens(_norm(F.col("text")))).cast("long").alias("_nt"),
            )
            .groupBy("source")
            .agg(F.sum("_nt").alias("t"))
            .collect()
        )
        budgets = {r["source"]: int(r["t"] or 0) // 2 for r in per_src}
        base = tempfile.mkdtemp(prefix="budget-ingest-")
        src = f"{base}/src"

        # batch 1 lands before the query starts; batches 2 and 3 are
        # incremental appends between processAllAvailable barriers (the
        # docs_doc_ingest_streamed placement) — pmod + coalesce puts
        # every row in exactly one batch
        def _slice(b: int):
            return docs.filter(
                F.pmod(
                    F.coalesce(F.col("doc_id"), F.lit(0)),
                    F.lit(_BUDGET_INGEST_BATCHES),
                )
                == b
            ).coalesce(1)

        # r17: slices staged once per process, delivered by hardlink (the
        # events_asof_streamed note — fixture prep out of the timed drive)
        stage = stage_drive_slices(
            sf_dir,
            "budgetingest",
            {
                f"b{b}": (lambda b=b: _slice(b))
                for b in range(_BUDGET_INGEST_BATCHES)
            },
        )
        deliver_slice(stage, "b0", src)
        ing = BudgetCappedIngest(f"{base}/ingest", budgets)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(ing.process_batch)
            .option("checkpointLocation", f"{base}/ck")
            .start()
        )
        try:
            q.processAllAvailable()
            for b in range(1, _BUDGET_INGEST_BATCHES):
                deliver_slice(stage, f"b{b}", src)
                q.processAllAvailable()
            _capture_drive_stats("docs_budget_ingest_streamed", sf_dir, q)
        finally:
            q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # RE-DELIVERED batch, DRIVER-GATED: a FRESH instance over the same
        # base_dir (so the skip decision comes from the DURABLE totals
        # store, not the in-memory mirror) replays batch 0 — its id is
        # <= the recorded high-watermark, so exactly-once accounting must
        # make it a no-op; if the skip broke, the duplicate corpus rows
        # would hash-mismatch the oracle below
        BudgetCappedIngest(f"{base}/ingest", budgets).process_batch(
            spark.read.schema(docs.schema).parquet(f"{stage}/b0"), 0
        )
        if not store_exists(spark, ing.corpus_path):
            return spark.createDataFrame(
                [], "doc_id long, source string, n_tokens long"
            )
        _BUDGET_INGEST_CACHE[sf_dir] = ing.corpus_path
        sink = ing.corpus_path
    accepted = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(sink)
    return accepted.select(
        "doc_id",
        "source",
        F.size(tokens(_norm(F.col("text")))).cast("long").alias("n_tokens"),
    )


@query(
    "docs_packed_sequences",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    starts AS (
        SELECT doc_id, t,
               unnest(generate_series(0, (len(t) - 1) // 56)) AS i
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_id,
               t[i * 56 + 1 : i * 56 + 64] AS chunk
        FROM starts
    )
    SELECT doc_id, chunk_id,
           CAST(len(chunk) AS BIGINT) AS chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_fp
    FROM chunks
    """,
    doc="[EXT] Sequence packing (functions/text.py packed_chunks): split "
    "every document's token stream into 64-token training windows "
    "starting every 56 tokens (8-token overlapping context, final window "
    "clipped) — the LLM training-prep chunking step; oracle compares "
    "per-chunk token counts and the md5 of the space-joined window, so "
    "window BOUNDARIES are pinned exactly.  Narrow explode, one row per "
    "window — scales as the token volume.",
    tags=("text", "tokens", "packing"),
)
def docs_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.functions.text import (
        packed_chunks,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    staged = docs.select("doc_id", tokens(_norm(F.col("text"))).alias("toks"))
    exploded = staged.select(
        "doc_id",
        F.explode(packed_chunks(F.col("toks"), size=64, stride=56)).alias("c"),
    )
    return exploded.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size("c.chunk").cast("long").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("c.chunk"))).alias("chunk_fp"),
    )


@query(
    "docs_global_packing",
    f"""
    WITH scored AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM documents
    ),
    offs AS (
        SELECT doc_id, n,
               CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS doc_off
        FROM scored
    ),
    segs AS (
        SELECT doc_id, n, doc_off,
               unnest(generate_series(doc_off // 64, (doc_off + n - 1) // 64))
                   AS seq_id
        FROM offs WHERE n > 0
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(doc_off, seq_id * 64) AS BIGINT) AS tok_start,
           CAST(LEAST(doc_off + n, (seq_id + 1) * 64)
                - GREATEST(doc_off, seq_id * 64) AS BIGINT) AS n_toks
    FROM segs
    """,
    doc="[EXT] Global cross-document sequence packing "
    "(operators/packing.py): the corpus-order token stream cut into "
    "fully-filled 64-token training sequences that cross document "
    "boundaries — one row per (sequence, document) overlap segment with "
    "its global offset, what a loader needs without ever building the "
    "concatenation.  Oracle = the naive global cumsum window; engine = "
    "the distributed two-phase prefix-sum (bucket sums -> driver prefix "
    "-> bucket-partitioned windows) + narrow per-doc explode, "
    "SinglePartition-free.",
    tags=("text", "tokens", "packing", "scale", "bench"),
)
def docs_global_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.packing import (
        pack_corpus_segments,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    scored = docs.select(
        "doc_id", F.size(tokens(_norm(F.col("text")))).cast("long").alias("n_tokens")
    )
    return pack_corpus_segments(scored, "n_tokens", seq_len=64)


def _split_sql() -> str:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        split_threshold_hex,
    )

    t_train = split_threshold_hex(0.8)
    t_val = split_threshold_hex(0.9)
    return f"""
    SELECT split, COUNT(*) AS n_docs FROM (
        SELECT CASE
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) < '{t_train}'
                THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) < '{t_val}'
                THEN 'val'
            ELSE 'test' END AS split
        FROM documents)
    GROUP BY split
    """


@query(
    "docs_split_counts",
    _split_sql(),
    doc="[EXT] Deterministic growth-stable train/val/test split "
    "(operators/budget.py hash_split, 80/10/10): each doc labeled by its "
    "md5-prefix position against precomputed 13-char hex thresholds — "
    "fixed-width lowercase hex compares identically as a string in both "
    "engines, so no float arithmetic or dialect hex-int parsing is "
    "involved.  Per-row narrow label + one count aggregate.",
    tags=("text", "sampling", "split"),
)
def docs_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        hash_split,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labeled = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return labeled.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "docs_wordcount_top20",
    f"""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
    doc="[EXT] The canonical explode-group-count (wordcount): flatten every "
    "document's tokens to rows, count global frequencies, top-20 with "
    "lexicographic tie-break — the lateral-view/explode operator surface.",
    tags=("text", "tokens", "explode"),
)
def docs_wordcount_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(_norm(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


def docs_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Token counting per source: whitespace tokenization vs a
    BPE-ish regex lexer ([a-z]+ | digit runs | single symbols).

    DE-REGISTERED r12 (registry hygiene, the r11 verdict's candidate
    list): whitespace token counting stays oracled per-document through
    `docs_bpe_token_counts` (n_ws_tokens) and corpus-wide through the
    budget/mixture family; the regex lexer is pinned
    Python-reference-exact in tests/test_quality_rules.py.  The function
    remains a library surface."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(F.size(tokens(_norm(F.col("text"))))).alias("ws_tokens"),
        F.sum(
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        ).alias("re_tokens"),
    )


# ── character-level BPE token counting ───────────────────────────────────

from kafka_streams_dead_letter_publishing_spark.functions.bpe import (  # noqa: E402
    TRAINED_MERGES_FULL,
    bpe_count_sql,
    bpe_marked,
    bpe_marked_sql,
    bpe_token_count,
    bpe_token_count_arrow,
)


# NOTE (r16): docs_bpe_token_counts (the 16-merge JVM replace-chain BPE
# row) was RETIRED from the driver registry at the 100-row hygiene cap to
# fund the emb_ann_ingest_streamed gate (r15 verdict #2).  Nothing is
# lost: BPE counting stays driver-checked every rotation through
# docs_bpe_token_counts_full — the fixture-SATURATED 89-merge vocabulary
# via the production Arrow executor, the strictly harder variant — and
# per-doc whitespace token counts stay oracled through the budget/
# mixture/packing family.  This row (incl. its byte-exact seg_fp
# segmentation pin) moves to the RETIRED registry, so the edge-case
# batteries keep running its oracle pair verbatim without a rotation
# slot (tests/test_oracle_edge_cases.py).
@retired_query(
    "docs_bpe_token_counts",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_ws_tokens,
           {bpe_count_sql('text')} AS n_bpe_tokens,
           md5({bpe_marked_sql('text')}) AS seg_fp
    FROM documents
    """,
    doc="[EXT] Character-level BPE token counting (functions/bpe.py): the "
    "pinned 16-merge table (trained on this fixture corpus by "
    "tools/train_bpe.py, classic subword-NMT/GPT-2-lineage training) "
    "applied as rank-ordered merge passes via the marked-string replace "
    "trick — M+3 scalar string functions per row, zero UDFs, zero "
    "shuffles; the oracle replays the identical construction and seg_fp "
    "pins the full segmentation byte-for-byte, not just the count.  This "
    "is the production token counter for the budget/mixture/packing "
    "family (real pretraining budgets are BPE tokens, not regex words).",
    tags=("text", "tokens", "bpe", "bench"),
)
def docs_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.size(tokens(_norm(F.col("text")))).cast("long").alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.md5(bpe_marked(F.col("text"))).alias("seg_fp"),
    )


@query(
    "docs_bpe_token_counts_full",
    f"""
    SELECT doc_id,
           {bpe_count_sql('text', TRAINED_MERGES_FULL)} AS n_bpe_tokens_full
    FROM documents
    """,
    doc="[EXT] BPE counting at the fixture-SATURATED 89-merge vocabulary "
    "via the ARROW executor (functions/bpe.py bpe_token_count_arrow): "
    "this row exists to cross-engine-validate the production-scale path "
    "— the word-cached min-rank Python tokenizer (M-independent per-word "
    "cost; the JVM replace chain is O(len*M) and collapses with a "
    "StackOverflowError past ~1024 merges, measured in SCALE.md) against "
    "a DuckDB oracle that replays the rank-ordered marked-string replace "
    "chain symbolically.  Hash-green means the GPT-2-shape iterative "
    "min-rank merge and the pass-in-rank-order fold agree on every doc — "
    "the well-nested-table equivalence the executor relies on.  "
    "Python-legal by contract (lint-allowlisted like multimodal decode).",
    tags=("text", "tokens", "bpe", "bench"),
)
def docs_bpe_token_counts_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        bpe_token_count_arrow(F.col("text"), TRAINED_MERGES_FULL).alias(
            "n_bpe_tokens_full"
        ),
    )


_DUP_NGRAM_K = 8


@query(
    "docs_dup_ngram_spans",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (
        SELECT doc_id, md5(g) AS fp FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= {_DUP_NGRAM_K}
                          THEN [array_to_string(t[i:i+{_DUP_NGRAM_K - 1}], ' ')
                                FOR i IN generate_series(
                                    1, len(t) - {_DUP_NGRAM_K - 1})]
                          ELSE [] END) AS g
            FROM toks)),
    counts AS (SELECT fp, COUNT(*) AS n_occ FROM grams GROUP BY fp),
    per AS (
        SELECT g.doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM grams g JOIN counts c USING (fp) GROUP BY g.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_grams
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    """,
    doc="[EXT] Exact-substring duplication signal at k-gram granularity "
    "(operators/substrings.py; Lee et al. 2021 'Deduplicating Training "
    "Data Makes LMs Better' — the ExactSubstr redundancy their suffix "
    f"array measures, approximated with k={_DUP_NGRAM_K}-token windows "
    "WITH multiplicity and positions): per doc, the window count and how "
    "many windows hold a gram occurring more than once corpus-wide.  "
    "Line-dedup scale posture applied to token windows: fixed-width md5 "
    "fps through the shuffles, partial-agg occurrence counts (a "
    "boilerplate gram collapses map-side, never a window), "
    "AQE-splittable count join-back, partial-agg per-doc rollup.  The "
    "fixture's natural cross-doc repetition (~9% of positions) is the "
    "ground truth — no planting needed.",
    tags=("text", "dedup", "substrings", "bench"),
)
def docs_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.substrings import (
        dup_ngram_stats,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    staged = docs.select("doc_id", tokens(_norm(F.col("text"))).alias("toks"))
    return dup_ngram_stats(staged, _DUP_NGRAM_K)


@query(
    "docs_dup_span_removal",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (
        SELECT doc_id, r.u AS pos, r.fp FROM (
            SELECT doc_id,
                   unnest([struct_pack(u := i,
                           fp := md5(array_to_string(
                                     t[i:i+{_DUP_NGRAM_K - 1}], ' ')))
                           FOR i IN generate_series(
                               1, len(t) - {_DUP_NGRAM_K - 1})]) AS r
            FROM toks WHERE len(t) >= {_DUP_NGRAM_K})),
    winners AS (
        SELECT fp, MIN(struct_pack(i := doc_id, p := pos)) AS w,
               COUNT(*) AS n_occ
        FROM grams GROUP BY fp),
    dupw AS (
        SELECT g.doc_id, g.pos FROM grams g JOIN winners x USING (fp)
        WHERE x.n_occ > 1 AND NOT (g.doc_id = x.w.i AND g.pos = x.w.p)),
    covp AS (
        SELECT DISTINCT doc_id, u FROM (
            SELECT doc_id,
                   unnest([pos + j
                           FOR j IN generate_series(0, {_DUP_NGRAM_K - 1})])
                       AS u
            FROM dupw)),
    cov AS (SELECT doc_id, list(u ORDER BY u) AS c FROM covp GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(c.c), 0) AS BIGINT) AS n_removed,
           -- COALESCE: DuckDB's array_to_string of an EMPTY list is NULL
           -- (Spark's concat_ws is ''), so an all-removed doc needs the
           -- explicit empty-string floor to hash identically
           md5(COALESCE(array_to_string(
               [d.t[i] FOR i IN generate_series(1, len(d.t))
                IF NOT list_contains(COALESCE(c.c, []), i)], ' '), ''))
               AS new_fp
    FROM toks d LEFT JOIN cov c USING (doc_id)
    """,
    doc="[EXT] Exact-substring dedup ACTION (operators/substrings.py "
    "remove_dup_spans; the Lee et al. 2021 removal step): every token "
    "position covered by a duplicated k-gram window that is not the "
    "gram's corpus-wide first occurrence (lowest (doc,pos) — one "
    "partial-agg groupBy(fp).agg(min(struct),count), never a window) is "
    "removed; docs rebuilt from surviving tokens, exactly one copy of "
    "every shared span surviving at its first occurrence.  new_fp pins "
    "the rebuilt text byte-for-byte.  Per-doc coverage union is array "
    "arithmetic inside a doc-bounded aggregate.",
    tags=("text", "dedup", "substrings"),
)
def docs_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.substrings import (
        remove_dup_spans,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    staged = docs.select("doc_id", tokens(_norm(F.col("text"))).alias("toks"))
    out = remove_dup_spans(staged, _DUP_NGRAM_K)
    return out.select(
        "doc_id", "n_tokens", "n_removed", F.md5("new_text").alias("new_fp")
    )


# ── benchmark decontamination ────────────────────────────────────────────


def _decontam_sql(k: int = 5) -> str:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        split_threshold_hex,
    )

    t_train = split_threshold_hex(0.8)
    return f"""
    WITH labeled AS (
        SELECT doc_id, {_shingles_sql(_TOKS_SQL, k)} AS grams,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) < '{t_train}'
                   AS is_train
        FROM documents),
    eval_fps AS (
        SELECT DISTINCT md5(unnest(grams)) AS gram_fp
        FROM labeled WHERE NOT is_train),
    train_fps AS (
        SELECT doc_id, md5(unnest(grams)) AS gram_fp
        FROM labeled WHERE is_train),
    hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM train_fps JOIN eval_fps USING (gram_fp)
        GROUP BY doc_id)
    SELECT l.doc_id,
           COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           h.n_hits IS NULL AS keep
    FROM labeled l LEFT JOIN hits h USING (doc_id)
    WHERE l.is_train
    """


@query(
    "docs_decontaminated",
    _decontam_sql(),
    doc="[EXT] Benchmark decontamination (operators/decontaminate.py): the "
    "GPT-3-style eval-overlap rule — a training doc is contaminated when "
    "any of its k-token shingles appears in the held-out eval split "
    "(hash_split 80/10/10; eval = val+test).  Output is the full audit: "
    "one row per TRAIN doc with its distinct-gram hit count and keep "
    "flag (the survivors of decontaminate() are exactly keep=true).  "
    "Scale shape: eval gram fingerprints are benchmark-sized and "
    "broadcast, so the exploded corpus grams meet them in a "
    "BroadcastHashJoin (no corpus shuffle) and partial-agg count per "
    "doc; md5-compacted fixed-width gram keys bound the broadcast.  "
    "k=5 at the gate SF because fixture docs are ~50 tokens; production "
    "k (8-13) is a parameter.  At sf0.01 the 10 contaminated docs are "
    "exactly the planted near-dup partners whose twin fell in the eval "
    "split — the rule catching real leakage, not noise.",
    tags=("text", "decontamination", "broadcast-join", "bench"),
)
def docs_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        hash_split,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.decontaminate import (
        contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    train = labeled.filter(F.col("split") == "train")
    eval_docs = labeled.filter(F.col("split") != "train")
    rep = contamination_report(train, eval_docs, k=5)
    return (
        train.select("doc_id")
        .join(rep, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_hits").isNull().alias("keep"),
        )
    )


# ── DSIR importance resampling ───────────────────────────────────────────

_DSIR_SCALE = 1 << 20
# bigrams WITH multiplicity (unlike the distinct _shingles_sql) — these
# are distribution counts
_BIGRAMS_SQL = (
    "(CASE WHEN len(t) >= 2 THEN "
    "[array_to_string(t[i:i+1], ' ') for i in generate_series(1, len(t) - 1)] "
    "ELSE [] END)"
)


@query(
    "docs_dsir_sample",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents),
    feats AS (
        SELECT doc_id, lang, unnest(t) AS f FROM toks
        UNION ALL
        SELECT doc_id, lang, unnest({_BIGRAMS_SQL}) AS f FROM toks),
    b AS (SELECT doc_id, lang, substring(md5(f), 1, 2) AS bucket FROM feats),
    rc AS (SELECT bucket, COUNT(*) AS rc FROM b GROUP BY bucket),
    tc AS (SELECT bucket, COUNT(*) AS tc FROM b WHERE lang = 'en'
           GROUP BY bucket),
    w AS (SELECT rc.bucket,
                 ({_DSIR_SCALE} * (1 + COALESCE(tc.tc, 0))) // (1 + rc.rc)
                     AS w
          FROM rc LEFT JOIN tc USING (bucket))
    SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score
    FROM b JOIN w USING (bucket)
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 100
    """,
    doc="[EXT] DSIR-style importance resampling (operators/dsir.py, Xie et "
    "al. 2023): hashed unigram+bigram buckets (md5-prefix string keys, "
    "256 buckets), add-one-smoothed target/raw likelihood-ratio weights "
    "quantized to exact BIGINTs (SCALE·(1+t) DIV (1+r) — the log-sum "
    "form needs transcendental ln whose last ulp differs across engines), "
    "per-doc score = sum of its features' weights, top-100 most "
    "target-like docs with doc_id tie-break.  Target domain here: "
    "lang='en' docs.  Scale shape: exploded features partial-agg to "
    "bucket counts, the ≤256-row weight table broadcasts back into the "
    "feature stream (no corpus shuffle on bucket), per-doc sum is "
    "map-side-combinable, top-k is distributed TakeOrdered.",
    tags=("text", "sampling", "dsir", "bench"),
)
def docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.dsir import (
        dsir_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # subset form: raw + target bucket counts from ONE conditional agg
    return dsir_sample(docs, None, n=100, target_pred=F.col("lang") == "en")


# ── vocabulary construction ──────────────────────────────────────────────


@query(
    "docs_vocab_ids",
    f"""
    SELECT term, CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term)
               AS BIGINT) AS token_id
    FROM (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
    GROUP BY term
    """,
    doc="[EXT] Tokenizer vocabulary construction (operators/vocab.py): "
    "global term frequencies + CONTIGUOUS token ids, most-frequent first "
    "with term tie-break.  The oracle is the naive global "
    "row_number() window; the engine deliberately avoids that plan's "
    "Exchange SinglePartition by running the id assignment as a "
    "frequency-banded two-phase prefix COUNT (operators/prefix.py — "
    "#bands driver metadata rows, band-partitioned windows), the same "
    "machinery as the budget/packing family.  Plan gate in "
    "tests/test_vocab.py.",
    tags=("text", "tokens", "vocab", "prefix-sum", "bench"),
)
def docs_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.vocab import (
        vocab_ids,
    )

    docs = load_table(spark, sf_dir, "documents").select("text")
    return vocab_ids(docs)


@query(
    "docs_source_capped",
    """
    SELECT doc_id, source, rank_in_group FROM (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT)
                   AS rank_in_group
        FROM documents)
    WHERE rank_in_group <= 10
    """,
    doc="[EXT] Per-source document capping (operators/budget.py "
    "source_cap): at most 10 docs per source, chosen deterministically in "
    "md5(id) order — the C4-style anti-spam rule that no single domain "
    "may dominate a corpus.  The oracle is the naive per-group "
    "row_number window; the engine runs the bucketed two-phase prefix "
    "COUNT instead, so a spam domain with a billion pages (exactly the "
    "group being capped) never funnels through one window task.",
    tags=("text", "sampling", "caps", "prefix-sum"),
)
def docs_source_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        source_cap,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return source_cap(docs, cap=10)


# ── composed pretraining pipeline (capstone) ─────────────────────────────


#: one-slot holder for the PREVIOUS pipeline invocation's persisted stage
#: boundary — released (unpersisted) when the next invocation arrives or
#: via plans.clear_plan_caches.  Deliberately NOT a result memo (r17
#: verdict: the old per-sf_dir `_PIPELINE_SCORED_CACHE` let bench passes
#: 2..N skip the whole upstream pipeline — a banned cross-pass result
#: cache); every invocation recomputes from the parquet inputs, the slot
#: only bounds cache-registry growth in a long-lived process.
_PIPELINE_STAGE_SLOT: list = []


def _pipeline_release_previous() -> None:
    while _PIPELINE_STAGE_SLOT:
        df = _PIPELINE_STAGE_SLOT.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — owning session already stopped
            pass


def _pretraining_pipeline_sql() -> str:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        split_threshold_hex,
    )

    t_train = split_threshold_hex(0.8)
    return f"""
    WITH labeled AS (
        SELECT doc_id, text, source, {_shingles_sql(_TOKS_SQL, 5)} AS grams,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) < '{t_train}'
                   AS is_train
        FROM documents),
    eval_fps AS (
        SELECT DISTINCT md5(unnest(grams)) AS fp
        FROM labeled WHERE NOT is_train),
    contaminated AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, md5(unnest(grams)) AS fp
            FROM labeled WHERE is_train) t
        JOIN eval_fps USING (fp)),
    clean AS (
        SELECT doc_id, text, source FROM labeled
        WHERE is_train
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
    capped AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
            FROM clean) WHERE rk <= 15),
    scored AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM capped),
    cum AS (
        SELECT doc_id, n,
               CAST(SUM(n) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS run
        FROM scored),
    sampled AS (SELECT doc_id, n FROM cum WHERE run <= 6000),
    offs AS (
        SELECT doc_id, n,
               CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS doc_off
        FROM sampled),
    segs AS (
        SELECT doc_id, n, doc_off,
               unnest(generate_series(doc_off // 64, (doc_off + n - 1) // 64))
                   AS seq_id
        FROM offs WHERE n > 0)
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(doc_off, seq_id * 64) AS BIGINT) AS tok_start,
           CAST(LEAST(doc_off + n, (seq_id + 1) * 64)
                - GREATEST(doc_off, seq_id * 64) AS BIGINT) AS n_toks
    FROM segs
    """


@query(
    "docs_pretraining_pipeline",
    _pretraining_pipeline_sql(),
    doc="[EXT] The composed end-to-end pretraining data pipeline, one "
    "declarative plan: hash_split (80/10/10) -> decontaminate the train "
    "split against the eval splits (5-gram overlap, broadcast eval fps) "
    "-> cap each source at 15 docs (md5 order, banded prefix COUNT) -> "
    "fill a 6000-token budget (md5-order greedy, two-phase prefix-sum) "
    "-> pack into 64-token cross-document training sequences (segment "
    "map via the same prefix-sum).  The oracle replays every stage with "
    "naive windows/subqueries; the engine's plan stays broadcast-join + "
    "bucket-parallel throughout — the five stages compose without any "
    "SinglePartition exchange, which is the whole point: a user runs "
    "clean -> select -> pack as ONE Catalyst plan, not five jobs with "
    "materialization barriers.  (The one driver round-trip is the "
    "prefix-sum families' #buckets metadata collect.)",
    tags=("text", "pipeline", "capstone", "bench"),
)
def docs_pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        hash_split,
        source_cap,
        token_budget_sample,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.decontaminate import (
        decontaminate,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.packing import (
        pack_corpus_segments,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    labeled = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    train = labeled.filter(F.col("split") == "train")
    eval_docs = labeled.filter(F.col("split") != "train")
    clean = decontaminate(train, eval_docs, k=5)
    # PERSIST the stage boundary — but EARLIER and NARROWER than the r11
    # shape (r18, guide §1.2 step 1): n_tokens is a pure function of text,
    # so computing it on the DECONTAMINATED set (before the cap) lets the
    # whole heavy chain (hash split → shingle explode → broadcast contam
    # join → anti-join → tokenize) run exactly ONCE per invocation — the
    # cap's bucket-metadata collect materializes this narrow (doc_id,
    # source, n_tokens) frame, and the budget/packing collects plus the
    # final execution all read the cache.  The old shape persisted
    # (doc_id, n_tokens) AFTER the cap, so the cap's own collect executed
    # the heavy chain a second time.  This is an invocation-local barrier,
    # not a memo: every call rebuilds it (the r17 verdict killed the
    # cross-pass `_PIPELINE_SCORED_CACHE` result cache); the one-slot
    # holder merely unpersists the previous invocation's frame.
    _pipeline_release_previous()
    staged = clean.select(
        "doc_id",
        "source",
        F.size(tokens(_norm(F.col("text")))).cast("long").alias("n_tokens"),
    ).persist()
    _PIPELINE_STAGE_SLOT.append(staged)
    capped = source_cap(staged, cap=15)
    scored = capped.select("doc_id", "n_tokens")
    sampled = token_budget_sample(scored, "n_tokens", 6000)
    return pack_corpus_segments(
        sampled.select("doc_id", "n_tokens"), "n_tokens", seq_len=64
    )


# ── corpus card ──────────────────────────────────────────────────────────


def _corpus_card_sql() -> str:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        split_threshold_hex,
    )

    t_train = split_threshold_hex(0.8)
    return f"""
    WITH toks AS (SELECT doc_id, lang, source, {_TOKS_SQL} AS t
                  FROM documents),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM toks),
    dups AS (
        SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_dup_docs FROM (
            SELECT COUNT(*) AS n FROM (SELECT {_FP_SQL} AS fp FROM documents)
            GROUP BY fp)),
    gopher AS (
        SELECT CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_gopher_flagged
        FROM ({_GOPHER_DOC_SQL})),
    pii AS (
        SELECT CAST(SUM(CASE
                   WHEN len(regexp_extract_all(text, '{PII_EMAIL_RE}')) > 0
                     OR len(regexp_extract_all(
                            regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>',
                                           'g'),
                            '{PII_IPV4_RE}')) > 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs
        FROM documents),
    linedups AS (
        SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_dup_lines FROM (
            SELECT COUNT(*) AS n FROM (
                SELECT unnest(list_filter(string_split(text, chr(10)),
                              l -> len(trim(l)) > 0)) AS line
                FROM documents)
            GROUP BY line)),
    contam AS (
        SELECT CAST(COUNT(DISTINCT tf.doc_id) AS BIGINT) AS n_contaminated
        FROM (
            SELECT doc_id, md5(unnest({_shingles_sql('t', 5)})) AS fp
            FROM toks
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                  < '{t_train}') tf
        JOIN (
            SELECT DISTINCT md5(unnest({_shingles_sql('t', 5)})) AS fp
            FROM toks
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                  >= '{t_train}') ef
        USING (fp))
    SELECT stat, value FROM (
        SELECT 'n_docs' AS stat, n_docs AS value FROM base
        UNION ALL SELECT 'n_tokens', n_tokens FROM base
        UNION ALL SELECT 'n_langs', n_langs FROM base
        UNION ALL SELECT 'n_sources', n_sources FROM base
        UNION ALL SELECT 'n_exact_dup_docs', n_dup_docs FROM dups
        UNION ALL SELECT 'n_gopher_flagged_docs', n_gopher_flagged FROM gopher
        UNION ALL SELECT 'n_pii_docs', n_pii_docs FROM pii
        UNION ALL SELECT 'n_corpus_dup_lines', n_dup_lines FROM linedups
        UNION ALL SELECT 'n_contaminated_train_docs', n_contaminated
        FROM contam)
    """


@query(
    "docs_corpus_card",
    _corpus_card_sql(),
    doc="[EXT] Corpus card v2 (the audit report a dataset release ships): "
    "one long-format row per headline stat — doc/token/lang/source "
    "counts, exact-duplicate doc count (fingerprint groups), "
    "Gopher-repetition-flagged doc count and PII-bearing doc count (r9: "
    "both fold into the base aggregate's corpus pass as per-row "
    "predicates), corpus-wide duplicate line occurrences (the mass exact "
    "line dedup would drop; partial-agg per line hash), and the count of "
    "train-split docs contaminated against the eval splits (5-gram "
    "overlap, the docs_decontaminated rule).  Composes the engine's own "
    "operators into a single report plan: every stat is a partial-agg "
    "aggregate or a broadcast-join count — no windows, no collects "
    "beyond the final nine rows.",
    tags=("text", "report", "card"),
)
def docs_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        hash_split,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.decontaminate import (
        contamination_report,
    )
    from kafka_streams_dead_letter_publishing_spark.functions.text import (
        fingerprint,
    )

    from kafka_streams_dead_letter_publishing_spark.functions.quality import (
        gopher_repetition_keep,
    )
    from kafka_streams_dead_letter_publishing_spark.functions.text import (
        pii_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "lang", "source", "text",
        tokens(_norm(F.col("text"))).alias("_t"),
    )
    # card v2 (r9): the Gopher-flag and PII-presence counts FOLD INTO the
    # base aggregate — per-row narrow predicates riding the same corpus
    # pass, no extra scan
    keep = gopher_repetition_keep(F.col("text"), F.col("_t"))
    pii = pii_counts(F.col("text"))
    base = staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_t")).cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum((~keep).cast("long")).alias("n_gopher_flagged"),
        F.sum(((pii["n_emails"] + pii["n_ips"]) > 0).cast("long")).alias(
            "n_pii_docs"
        ),
    )
    # corpus-wide duplicate LINE occurrences (what exact line dedup would
    # drop): explode → non-blank filter → partial-agg count per line hash
    line_dups = (
        docs.select(F.explode(F.split("text", "\n")).alias("line"))
        .filter(F.length(F.trim("line")) > 0)
        .groupBy(F.md5("line").alias("lfp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
            .cast("long")
            .alias("n_dup_lines")
        )
    )
    dups = (
        docs.groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("n_dup"))
    )
    labeled = hash_split(docs.select("doc_id", "text"),
                         {"train": 0.8, "val": 0.1, "test": 0.1})
    contam = contamination_report(
        labeled.filter(F.col("split") == "train"),
        labeled.filter(F.col("split") != "train"),
        k=5,
    ).agg(F.count(F.lit(1)).cast("long").alias("n_contam"))

    # stack unpivots the 1-row aggregates IN PLACE — one corpus pass per
    # aggregate subtree, not one per emitted stat row
    return (
        base.selectExpr(
            "stack(6, 'n_docs', CAST(n_docs AS BIGINT), "
            "'n_tokens', n_tokens, "
            "'n_langs', CAST(n_langs AS BIGINT), "
            "'n_sources', CAST(n_sources AS BIGINT), "
            "'n_gopher_flagged_docs', n_gopher_flagged, "
            "'n_pii_docs', n_pii_docs) AS (stat, value)"
        )
        .unionByName(
            dups.selectExpr("'n_exact_dup_docs' AS stat", "n_dup AS value")
        )
        .unionByName(
            line_dups.selectExpr(
                "'n_corpus_dup_lines' AS stat", "n_dup_lines AS value"
            )
        )
        .unionByName(
            contam.selectExpr(
                "'n_contaminated_train_docs' AS stat", "n_contam AS value"
            )
        )
    )


@query(
    "docs_quality_weighted_sample",
    f"""
    SELECT doc_id, score,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
           < lpad(lower(hex(CAST(least(greatest(floor(score * 4503599627370496.0),
                                               0), 4503599627370495) AS BIGINT))),
                  13, '0') AS kept
    FROM (
        SELECT doc_id,
               len(list_distinct({_TOKS_SQL})) / len({_TOKS_SQL}) AS score
        FROM documents)
    """,
    doc="[EXT] Quality-weighted stochastic filtering (operators/budget.py "
    "quality_weighted_keep — the FineWeb-style SOFT filter): each doc "
    "kept with probability ≈ its quality score (here lexical diversity: "
    "distinct/total tokens) via a per-row md5-position threshold — no "
    "RNG, reproducible, growth-stable, dialect-safe through the same "
    "13-hex-char machinery as hash_split.  Per-row narrow expressions; "
    "no shuffle.",
    tags=("text", "sampling", "quality"),
)
def docs_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        quality_weighted_keep,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.select("doc_id", tokens(_norm(F.col("text"))).alias("_t"))
    scored = staged.select(
        "doc_id",
        (F.size(F.array_distinct("_t")) / F.size("_t")).alias("score"),
    )
    return quality_weighted_keep(scored, "score")


@query(
    "docs_epoch_order",
    """
    SELECT seq_id, epoch, CAST(ROW_NUMBER() OVER (
               PARTITION BY epoch
               ORDER BY md5(CAST(epoch AS VARCHAR) || ':'
                            || CAST(seq_id AS VARCHAR))) AS BIGINT)
               AS position
    FROM (SELECT DISTINCT doc_id % 256 AS seq_id FROM documents)
    CROSS JOIN (SELECT unnest([0, 1]) AS epoch)
    """,
    doc="[EXT] Multi-epoch deterministic reshuffle (operators/budget.py "
    "epoch_order): every epoch visits all training items in a fresh "
    "uniform order — position = rank of md5(epoch:id), a pure function "
    "of (epoch, id), so the schedule is reproducible and is a MAPPING "
    "table, not a data rewrite.  The oracle is the naive per-epoch "
    "global row_number; the engine runs the bucketed two-phase prefix "
    "COUNT (no SinglePartition).  Registered over two epochs so the "
    "orders' decorrelation is part of the pinned result.",
    tags=("text", "sampling", "epochs", "prefix-sum"),
)
def docs_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        epoch_order,
    )

    items = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 256).alias("seq_id"))
        .distinct()
    )
    return epoch_order(items, 0).unionByName(epoch_order(items, 1))


# ── Bloom-filter dedup gate ──────────────────────────────────────────────

from kafka_streams_dead_letter_publishing_spark.operators.bloom import (  # noqa: E402
    bloom_build,
    bloom_maybe_contains,
)

#: gate sizing: 2^17 bits / 5 hashes keeps the registry result saturation-
#: free at sf0.1 (load ~19% -> FP ~2.5e-4); the FP path itself is pinned
#: with a deliberately tiny filter in tests/test_bloom.py.
_BLOOM_M = 1 << 17
_BLOOM_K = 5

_BLOOM_SQL = f"""
WITH seen AS (
    SELECT DISTINCT {_FP_SQL} AS fp FROM documents
),
probe AS (
    SELECT DISTINCT fp FROM (
        SELECT md5(regexp_replace(lower(replace(upper(text), ' ', '  ')),
                                  '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT md5(regexp_replace(lower(substring(text, instr(text, ' ') + 1)),
                                  '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp
        FROM documents WHERE doc_id % 4 = 1
    )
),
seen_pos AS (
    SELECT ('0x' || substr(md5(fp || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
               % {_BLOOM_M} AS pos
    FROM seen CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS j)
),
words AS (
    SELECT pos // 63 AS word_idx, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word
    FROM seen_pos GROUP BY 1
),
probe_pos AS (
    SELECT fp,
           ('0x' || substr(md5(fp || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
               % {_BLOOM_M} AS pos
    FROM probe CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS j)
),
flags AS (
    SELECT p.fp,
           bool_and(w.word IS NOT NULL
                    AND (w.word & (1::BIGINT << CAST(p.pos % 63 AS INT))) != 0)
               AS maybe_seen
    FROM probe_pos p LEFT JOIN words w ON p.pos // 63 = w.word_idx
    GROUP BY p.fp
)
SELECT f.maybe_seen,
       (s.fp IS NOT NULL) AS is_dup,
       COUNT(*) AS n_keys
FROM flags f LEFT JOIN seen s ON f.fp = s.fp
GROUP BY 1, 2
"""


# NOTE (r14): docs_bloom_dedup_gate (the ONE-SHOT Bloom build + probe)
# was RETIRED from the registry at the 100-row hygiene cap to make room
# for the streamed interval-join row (events_interval_streamed).
# Nothing is lost: docs_bloom_streamed_gate's ORACLE is _BLOOM_SQL
# VERBATIM — the idempotent OR merge law makes the streamed read
# bit-identical to a single-pass build — so the one-shot semantics stay
# driver-checked through the streamed row every rotation, and the
# one-shot Spark path (bloom_build → bloom_maybe_contains) plus the
# no-false-negatives bound stay pytest-pinned in tests/test_bloom.py.
# Same retirement pattern as r14's emb_multi_query_topk and r9's
# emb_label_centroids.
def docs_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] One-shot Bloom-filter membership gate for incremental dedup
    (operators/bloom.py): build a 2^17-bit / 5-hash filter over the raw
    corpus' fingerprints, probe a derived 'next batch' (formatting-noise
    true dups ∪ first-token-dropped genuinely-new docs), and report the
    (maybe_seen, is_dup) confusion counts against the exact answer.  No
    false negatives by construction; false positives are deterministic
    given the md5 positions.  The filter is <= m/63 words via map-side
    bit_or — per-partition-bounded shuffle regardless of key skew."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.select(fingerprint(F.col("text")).alias("fp")).distinct()
    probe = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            fingerprint(
                F.replace(F.upper("text"), F.lit(" "), F.lit("  "))
            ).alias("fp")
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 1).select(
                fingerprint(
                    F.expr("substring(text, instr(text, ' ') + 1)")
                ).alias("fp")
            )
        )
        .distinct()
    )
    words = bloom_build(seen, "fp", n_hashes=_BLOOM_K, m_bits=_BLOOM_M)
    flags = bloom_maybe_contains(
        probe, "fp", words, n_hashes=_BLOOM_K, m_bits=_BLOOM_M
    )
    truth = seen.withColumn("is_dup", F.lit(True))
    return (
        flags.join(truth, "fp", "left")
        .select("maybe_seen", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
        .groupBy("maybe_seen", "is_dup")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


#: per-process Bloom store cache (the _KMV_STORE_CACHE pattern).
_BLOOM_STORE_CACHE: dict[str, str] = {}


@query(
    "docs_bloom_streamed_gate",
    _BLOOM_SQL,
    doc="[EXT] The Bloom dedup gate served from the STREAMED store "
    "(operators/bloom.py — the events_kmv_streamed_distinct pattern for "
    "the membership sketch): the words table is built through three "
    "bloom_append micro-batches (fingerprints split on pmod of their "
    "60-bit md5 prefix, NULL-coalesced so every key lands in exactly "
    "one batch), so the driver gate proves the epoch-SET ingest twin "
    "end-to-end — the oracle is the ONE-SHOT filter "
    "(docs_bloom_dedup_gate's SQL verbatim), and they agree because "
    "Bloom words are associative AND idempotent bit_or folds (the OR "
    "merge law makes the streamed read bit-identical to a single-pass "
    "build regardless of batching, and a replayed batch is a no-op — "
    "the sketch family's only at-least-once-free counter-free member "
    "besides KMV).  Same (maybe_seen, is_dup) confusion artifact: the "
    "(false, true) cell is provably empty through the store too.  "
    "Scale shape: each append shuffles <= m/63 pre-OR-ed words; the "
    "store grows by <= m/63 metadata rows per epoch, never with corpus "
    "size.",
    tags=("text", "dedup", "bloom", "sketch", "streaming", "bench"),
)
def docs_bloom_streamed_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from kafka_streams_dead_letter_publishing_spark.operators.bloom import (
        bloom_append,
        bloom_read,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.stores import store_exists

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.select(fingerprint(F.col("text")).alias("fp")).distinct()
    path = _BLOOM_STORE_CACHE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="bloom-store-") + "/bloom"
        # split on the fp's own 60-bit md5 prefix — non-negative, so pmod
        # == % here, but pmod + coalesce keeps the every-row-lands-in-
        # exactly-one-batch contract explicit (r12 ADVICE on the KMV row)
        part = F.pmod(
            F.coalesce(
                F.conv(F.substring(F.col("fp"), 1, 15), 16, 10).cast("bigint"),
                F.lit(0),
            ),
            F.lit(3),
        )
        for b in range(3):
            bloom_append(
                seen.filter(part == b),
                path,
                "fp",
                n_hashes=_BLOOM_K,
                m_bits=_BLOOM_M,
            )
        _BLOOM_STORE_CACHE[sf_dir] = path
    if not store_exists(spark, f"{path}/stats"):
        # an all-empty stream appends nothing — typed empty frame
        return spark.createDataFrame(
            [], "maybe_seen boolean, is_dup boolean, n_keys long"
        )
    probe = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            fingerprint(
                F.replace(F.upper("text"), F.lit(" "), F.lit("  "))
            ).alias("fp")
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 1).select(
                fingerprint(
                    F.expr("substring(text, instr(text, ' ') + 1)")
                ).alias("fp")
            )
        )
        .distinct()
    )
    flags = bloom_maybe_contains(
        probe, "fp", bloom_read(spark, path), n_hashes=_BLOOM_K, m_bits=_BLOOM_M
    )
    truth = seen.withColumn("is_dup", F.lit(True))
    return (
        flags.join(truth, "fp", "left")
        .select("maybe_seen", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
        .groupBy("maybe_seen", "is_dup")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


# ── CCNet-style perplexity bucketing ─────────────────────────────────────

_PPL_HEAD = 4_350  # milli-bits mean surprise; fixture terciles ≈ 4.35/4.45
_PPL_TAIL = 4_450


@query(
    "docs_perplexity_buckets",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents),
    ref AS (SELECT t FROM toks WHERE lang = 'en'),
    uc AS (SELECT a, COUNT(*) AS ca
           FROM (SELECT unnest(t) AS a FROM ref)
           GROUP BY a ORDER BY ca DESC, a LIMIT 65536),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS V FROM uc),
    bc AS (SELECT bg, COUNT(*) AS cab
           FROM (SELECT unnest({_BIGRAMS_SQL}) AS bg FROM ref)
           GROUP BY bg ORDER BY cab DESC, bg LIMIT 4194304),
    stream AS (
        SELECT doc_id, t[i] AS a, array_to_string(t[i:i+1], ' ') AS bg
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)),
    pos AS (
        SELECT s.doc_id,
               length(bin((COALESCE(uc.ca, 0) + tot.V + 1)
                          // (COALESCE(bc.cab, 0) + 1))) - 1 AS w
        FROM stream s
        CROSS JOIN tot
        LEFT JOIN uc ON s.a = uc.a
        LEFT JOIN bc ON s.bg = bc.bg),
    scored AS (
        SELECT d.doc_id, d.lang,
               CAST(len(d.t) - 1 AS BIGINT) AS n_positions,
               CAST(COALESCE(p.score, 0) AS BIGINT) AS score
        FROM toks d
        LEFT JOIN (SELECT doc_id, SUM(w) AS score FROM pos GROUP BY doc_id) p
            ON d.doc_id = p.doc_id),
    bucketed AS (
        SELECT lang, n_positions, score,
               CASE WHEN n_positions <= 0 THEN 'head'
                    WHEN score * 1000 < n_positions * {_PPL_HEAD} THEN 'head'
                    WHEN score * 1000 < n_positions * {_PPL_TAIL} THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored)
    SELECT bucket, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_positions) AS BIGINT) AS sum_positions,
           CAST(SUM(score) AS BIGINT) AS sum_score
    FROM bucketed
    GROUP BY bucket, lang
    """,
    doc="[EXT] CCNet-style perplexity bucketing (operators/perplexity.py, "
    "Wenzek et al. 2020): an add-one-smoothed BIGRAM LM trained on the "
    "in-domain reference subset (lang='en'), every doc scored by summed "
    "integer bigram surprise floor(log2((c(a)+V+1) DIV (c(a,b)+1))), "
    "bucketed head/middle/tail at fixed milli-bit cut points via exact "
    "integer cross-multiplication.  floor(log2 x) = length(bin(x))-1 is "
    "exact in both engines (the transcendental-free analogue of the DSIR "
    "quantization), so the whole LM + scoring replays bit-for-bit and "
    "the row is hash-green.  The reference domain scores measurably "
    "more predictable: en docs concentrate in head at these cuts.  "
    "Scale shape: n-gram counts are partial-agg; retained tables are "
    "driver-bounded TakeOrdered (the KenLM-fits-in-RAM analogue) and "
    "broadcast into the corpus position stream — no corpus shuffle on a "
    "token key; the vocabulary size V is one metadata-bounded driver "
    "scalar folded in as a literal (a 1-row totals join constant-folds "
    "to BroadcastNestedLoopJoin — measured, hence the lint-clean form); "
    "per-doc sum is map-side-combinable; the final group is over "
    "≤ 3×#langs rows.",
    tags=("text", "quality", "perplexity", "broadcast-join"),
)
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.perplexity import (
        perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    bucketed = perplexity_buckets(
        docs,
        F.col("lang") == "en",
        keep_cols=("lang",),
        head_millibits=_PPL_HEAD,
        tail_millibits=_PPL_TAIL,
    )
    return bucketed.groupBy("bucket", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_positions").cast("long").alias("sum_positions"),
        F.sum("score").cast("long").alias("sum_score"),
    )


# ── BPE token-id delivery ────────────────────────────────────────────────


@query(
    "docs_bpe_token_ids",
    f"""
    WITH seg AS (SELECT doc_id, {bpe_marked_sql('text')} AS m FROM documents),
    toks AS (
        SELECT doc_id,
               CASE WHEN len(m) >= 2
                    THEN string_split(m[2:len(m)-1], chr(31) || chr(31))
                    ELSE [] END AS t
        FROM seg),
    stream AS (
        SELECT doc_id, i AS pos, t[i] AS term
        FROM toks, LATERAL unnest(generate_series(1, len(t))) AS g(i)),
    vocab AS (
        SELECT term,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term)
                   AS BIGINT) AS token_id
        FROM stream GROUP BY term),
    ids AS (
        SELECT s.doc_id, s.pos, v.token_id
        FROM stream s JOIN vocab v ON s.term = v.term)
    SELECT d.doc_id,
           CAST(COALESCE(i.n_ids, 0) AS BIGINT) AS n_ids,
           md5(COALESCE(i.ids_csv, '')) AS ids_fp
    FROM toks d
    LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_ids,
               string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY pos)
                   AS ids_csv
        FROM ids GROUP BY doc_id) i
        ON d.doc_id = i.doc_id
    """,
    doc="[EXT] BPE token-ID delivery (functions/bpe.py bpe_tokens_arr + "
    "operators/vocab.py assign_ids): the step that turns the counting "
    "family into actual input_ids — segment every doc with the pinned "
    "16-merge expression chain (JVM-side, zero UDFs), posexplode the "
    "token array, assign contiguous corpus-frequency vocabulary ids "
    "(band-parallel prefix COUNT, no SinglePartition window), broadcast-"
    "join ids onto the position stream, and reassemble each doc's id "
    "sequence in position order.  The row pins (doc_id, n_ids, "
    "md5(comma-joined ids)) — the full id SEQUENCE byte-for-byte, not "
    "just lengths.  Scale shape: the one shuffle keyed by doc_id is the "
    "honest price of sequence reassembly (unique keys, no skew; "
    "collect_list partial-aggregates per doc, state bounded by doc "
    "length); the vocab side is broadcast.  Space tokens keep their own "
    "ids (they are real tokens of this char-BPE segmentation).",
    tags=("text", "tokens", "bpe", "vocab"),
)
def docs_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.functions.bpe import (
        bpe_tokens_arr,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.vocab import (
        assign_ids,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", bpe_tokens_arr(F.col("text")).alias("t"))
    stream = toks.select(
        "doc_id", F.posexplode_outer("t").alias("pos", "term")
    )
    vocab = assign_ids(
        stream.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    ).select("term", "token_id")
    return (
        stream.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("term").cast("long").alias("n_ids"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("term").isNotNull(),
                                    F.struct(
                                        F.col("pos").alias("pos"),
                                        F.col("token_id").alias("token_id"),
                                    ),
                                )
                            )
                        ),
                        lambda x: x["token_id"].cast("string"),
                    ),
                )
            ).alias("ids_fp"),
        )
    )


# ── BM25 ranked retrieval ────────────────────────────────────────────────


def _bm25_oracle() -> str:
    from kafka_streams_dead_letter_publishing_spark.operators.bm25 import (
        bm25_oracle_sql,
    )

    return bm25_oracle_sql(_TOKS_SQL)


# NOTE (r14): docs_bm25_topk (the full-scan BM25 ranking) was RETIRED
# from the registry at the 100-row hygiene cap to make room for
# events_kmv_set_ops (the rotation-window math: a retirement only frees
# an upcoming-window slot when it comes from the set the window must
# re-check).  Nothing is lost: docs_bm25_served_topk's oracle IS
# _bm25_oracle() VERBATIM — the serving path is contractually
# row-for-row identical to the full scan — so the exact-integer BM25
# semantics (millibit IDF, rational tf normalization, two-phase top-k)
# stay driver-checked every rotation; the full-scan path stays
# pytest-pinned (tests/test_bm25.py pins served ≡ scanned row-for-row).
# Same retirement pattern as r14's events_cms_heavy_hitters,
# events_kmv_distinct_users, docs_bloom_dedup_gate, emb_multi_query_topk.
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact-integer BM25 ranked retrieval, full-scan path: top-10
    docs per probe query; millibit-quantized log2 IDF, k1=6/5 b=3/4
    rational tf normalization, BIGINT contributions, two-phase top-k."""
    from kafka_streams_dead_letter_publishing_spark.operators.bm25 import (
        bm25_topk,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs)


# ── Naive Bayes language classifier ──────────────────────────────────────

_NB_TRAIN_WHERE = "doc_id % 5 <> 0"


def _nb_oracle() -> str:
    from kafka_streams_dead_letter_publishing_spark.operators.nbayes import (
        nb_model_sql,
    )

    model = nb_model_sql(_NB_TRAIN_WHERE, _TOKS_SQL)
    return f"""
    WITH {model},
    test AS (
        SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents
        WHERE NOT ({_NB_TRAIN_WHERE})
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS term FROM test)
        GROUP BY 1, 2
    ),
    percls AS (
        SELECT doc_id, cls,
               CAST(SUM(tf * COALESCE(s_mb, oov_mb)) + ANY_VALUE(prior_mb)
                   AS BIGINT) AS score_mb
        FROM tf
        CROSS JOIN nb_classes
        LEFT JOIN nb_model USING (term, cls)
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT doc_id, cls AS pred
        FROM (
            SELECT doc_id, cls, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score_mb, cls
            ) AS rn
            FROM percls
        ) WHERE rn = 1
    )
    SELECT t.lang, p.pred, COUNT(*) AS n
    FROM pred p JOIN test t USING (doc_id)
    GROUP BY 1, 2
    """


@query(
    "docs_nb_lang_confusion",
    _nb_oracle(),
    doc="[EXT] Exact-integer multinomial Naive Bayes language classifier "
    "(operators/nbayes.py): the quality/language-classifier tier of a "
    "production data pipeline (the CCNet/GPT-3 fastText slot), with the "
    "one classifier whose TRAINING is pure counting — per-class token "
    "counts and totals as partial-agg groupBys — and whose scoring is "
    "exact integer arithmetic: add-one-smoothed surprise in quantized-"
    "log2 millibits, per-(doc,class) scores as BIGINT sums, argmin via "
    "a partial-agg min over a (score, cls) struct (no window).  Trains "
    "on the doc_id%5!=0 split, classifies the held-out 20%, and pins "
    "the full confusion matrix (lang, pred, n) hash-green — the oracle "
    "replays training AND scoring bit-for-bit.  Scale shape: the model "
    "is driver-bounded (top-V TakeOrdered, V*C broadcast rows); the "
    "corpus explodes to (doc,term,tf) partial aggregates joined against "
    "the broadcast model — no token-keyed shuffle, no UDFs.",
    tags=("text", "classifier", "nbayes", "bench"),
)
def docs_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.nbayes import (
        nb_classify,
        nb_train,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.expr(_NB_TRAIN_WHERE))
    test = docs.filter(~F.expr(_NB_TRAIN_WHERE))
    try:
        model = nb_train(train, "lang")
    except ValueError as e:
        if "empty" not in str(e):
            raise
        # empty corpus: no model can exist — typed empty, matching the
        # oracle's empty result (edge-tier contract)
        return spark.createDataFrame([], "lang string, pred string, n bigint")
    preds = nb_classify(test, model)
    return (
        preds.join(test.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "docs_temperature_mixture",
    f"""
    WITH scored AS (
        SELECT source, doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    grp AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS gt
        FROM scored GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(gt) AS BIGINT) AS t FROM grp),
    w AS (
        SELECT source, CAST(floor(sqrt(CAST(gt AS DOUBLE))) AS BIGINT) AS w
        FROM grp
    ),
    alloc AS (
        SELECT source,
               ((SELECT t // 4 FROM tot) * w)
                   // (SELECT SUM(w) FROM w) AS budget
        FROM w
    ),
    cum AS (
        SELECT source, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS running_tokens
        FROM scored
    )
    SELECT c.source, c.doc_id, c.n_tokens, c.running_tokens
    FROM cum c JOIN alloc a ON a.source = c.source
    WHERE c.running_tokens <= a.budget
    """,
    doc="[EXT] Temperature-based mixture sampling (operators/budget.py "
    "temperature_budgets + token_budget_sample): per-source budgets "
    "proportional to sqrt(source token mass) — sampling temperature "
    "alpha=1/2, the Gopher/XLM-R multilingual rebalancing recipe (rare "
    "sources upsampled relative to their mass, spam sources damped) — "
    "then the deterministic md5-order greedy walk fills each budget.  "
    "Budget math is INTEGER (isqrt weights, floor allocation), so both "
    "engines draw identical boundaries; a float sqrt-sum would be "
    "summation-order-dependent in the last bit.  Scale shape: per-source "
    "token totals are a partial-agg scalar read (#sources metadata "
    "rows), the walk is the two-phase prefix-sum — windows only on "
    "(source, bucket), never a global partition.",
    tags=("text", "tokens", "sampling", "mixture", "temperature"),
)
def docs_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.operators.budget import (
        temperature_budgets,
        token_budget_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        F.size(tokens(_norm(F.col("text")))).cast("long").alias("n_tokens"),
    )
    # #sources metadata rows to the driver (group token totals)
    grp = scored.groupBy("source").agg(F.sum("n_tokens").alias("gt")).collect()
    totals = {r.source: int(r.gt or 0) for r in grp}
    budgets = temperature_budgets(totals, sum(totals.values()) // 4)
    return token_budget_sample(scored, "n_tokens", budgets, group_col="source")


# ── BM25 serving (persisted postings index) ──────────────────────────────

#: sf_dir -> postings index path (tmp dir; OS reaper cleans, same contract
#: as the PQ/IVF caches — evicted by plans.clear_plan_caches)
_BM25_INDEX_CACHE: dict[str, str] = {}


@query(
    "docs_bm25_served_topk",
    _bm25_oracle(),
    doc="[EXT] BM25 serving from the persisted postings index "
    "(operators/bm25.py bm25_index/bm25_serve): the SAME oracle as "
    "docs_bm25_topk — the serving path is contractually row-for-row "
    "identical to the full scan, and this row proves it against DuckDB "
    "rather than against the other Spark plan.  The scan reads ONLY the "
    "term buckets the query batch hashes to (PartitionFilters-pruned "
    "parquet, the ivf_search_batch contract for text); document "
    "frequencies stay exact because a term's postings live entirely in "
    "its bucket.  Index build memoized per sf_dir (cold build ~one "
    "tokenize pass; evicted by plans.clear_plan_caches).  r11: the index "
    "is built through the STREAMED path — two bm25_append micro-batches "
    "(epoch-gated postings + merged running stats, operators/bm25.py) — "
    "so the driver gate proves the ingest twin end-to-end: streamed "
    "appends must serve row-for-row what the oracle computes from the "
    "whole corpus, or the (N, sum dl, max dl) stats merge is wrong.",
    tags=("text", "retrieval", "bm25", "serving", "bench"),
)
def docs_bm25_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from kafka_streams_dead_letter_publishing_spark.operators.bm25 import (
        _EMPTY_RESULT_SCHEMA,
        bm25_append,
        bm25_serve,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.stores import store_exists

    path = _BM25_INDEX_CACHE.get(sf_dir)
    if path is None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        path = tempfile.mkdtemp(prefix="bm25-postings-")
        # streamed build: the micro-batch split is on the stable doc id,
        # so the per-epoch stats merge — not the batch boundary — is
        # what the oracle comparison exercises
        bm25_append(docs.filter(F.col("doc_id") % 2 == 0), path)
        bm25_append(docs.filter(F.col("doc_id") % 2 == 1), path)
        _BM25_INDEX_CACHE[sf_dir] = path
    if not store_exists(spark, f"{path}/stats"):
        # an all-empty-batch stream appends nothing (appends never write
        # a zero stats row) — an empty corpus serves the typed empty frame
        return spark.createDataFrame([], _EMPTY_RESULT_SCHEMA)
    return bm25_serve(spark, path)


# ── the composed quality-filter funnel ───────────────────────────────────


def _funnel_oracle() -> str:
    from kafka_streams_dead_letter_publishing_spark.operators.nbayes import (
        nb_model_sql,
    )

    nb_block = nb_model_sql(_NB_TRAIN_WHERE, _TOKS_SQL)
    return f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents),
    {nb_block},
    nbs_tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        GROUP BY 1, 2
    ),
    nbs_percls AS (
        SELECT doc_id, cls,
               CAST(SUM(tf * COALESCE(s_mb, oov_mb)) + ANY_VALUE(prior_mb)
                   AS BIGINT) AS score_mb
        FROM nbs_tf
        CROSS JOIN nb_classes
        LEFT JOIN nb_model USING (term, cls)
        GROUP BY 1, 2
    ),
    nbs_pred AS (
        SELECT doc_id, cls AS pred
        FROM (
            SELECT doc_id, cls, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score_mb, cls
            ) AS rn
            FROM nbs_percls
        ) WHERE rn = 1
    ),
    ref AS (SELECT t FROM toks WHERE lang = 'en'),
    uc AS (SELECT a, COUNT(*) AS ca
           FROM (SELECT unnest(t) AS a FROM ref)
           GROUP BY a ORDER BY ca DESC, a LIMIT 65536),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS V FROM uc),
    bc AS (SELECT bg, COUNT(*) AS cab
           FROM (SELECT unnest({_BIGRAMS_SQL}) AS bg FROM ref)
           GROUP BY bg ORDER BY cab DESC, bg LIMIT 4194304),
    pstream AS (
        SELECT doc_id, t[i] AS a, array_to_string(t[i:i+1], ' ') AS bg
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)),
    pos AS (
        SELECT s.doc_id,
               length(bin((COALESCE(uc.ca, 0) + tot.V + 1)
                          // (COALESCE(bc.cab, 0) + 1))) - 1 AS w
        FROM pstream s
        CROSS JOIN tot
        LEFT JOIN uc ON s.a = uc.a
        LEFT JOIN bc ON s.bg = bc.bg),
    ppl AS (
        SELECT d.doc_id,
               CAST(len(d.t) - 1 AS BIGINT) AS n_positions,
               CAST(COALESCE(p.score, 0) AS BIGINT) AS score
        FROM toks d
        LEFT JOIN (SELECT doc_id, SUM(w) AS score FROM pos GROUP BY doc_id) p
            ON d.doc_id = p.doc_id),
    glines AS (
        SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
                              l -> len(trim(l)) > 0)) AS line
        FROM documents
    ),
    line_groups AS (
        SELECT doc_id, line, COUNT(*) AS cnt FROM glines GROUP BY doc_id, line
    ),
    line_stats AS (
        SELECT doc_id, SUM(cnt) AS n_lines,
               SUM(cnt - 1) AS dup_lines,
               SUM((cnt - 1) * len(line)) AS dup_chars
        FROM line_groups GROUP BY doc_id
    ),
    grams2 AS (
        SELECT doc_id, unnest([t[i] || ' ' || t[i + 1]
                               FOR i IN generate_series(1, len(t) - 1)]) AS gram
        FROM toks WHERE len(t) >= 2
    ),
    gram2_groups AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM grams2 GROUP BY doc_id, gram
    ),
    top2 AS (
        SELECT doc_id, gram, cnt FROM (
            SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram ASC) AS rn
            FROM gram2_groups) WHERE rn = 1
    ),
    grams3 AS (
        SELECT doc_id, unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                               FOR i IN generate_series(1, len(t) - 2)]) AS gram
        FROM toks WHERE len(t) >= 3
    ),
    gram3_groups AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM grams3 GROUP BY doc_id, gram
    ),
    top3 AS (
        SELECT doc_id, gram, cnt FROM (
            SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram ASC) AS rn
            FROM gram3_groups) WHERE rn = 1
    ),
    flags AS (
        SELECT d.doc_id,
               COALESCE(np.pred, '') = 'en' AS lang_ok,
               ((COALESCE(ls.n_lines, 0) = 0)
                OR (CAST(COALESCE(ls.dup_lines, 0) AS DOUBLE)
                        <= CAST(0.30 AS DOUBLE) * COALESCE(ls.n_lines, 0)
                    AND CAST(COALESCE(ls.dup_chars, 0) AS DOUBLE)
                        <= CAST(0.20 AS DOUBLE) * length(d.text)))
               AND (COALESCE(t2.cnt, 0) <= 1
                    OR CAST(COALESCE(t2.cnt * len(t2.gram), 0) AS DOUBLE)
                        <= CAST(0.20 AS DOUBLE) * length(d.text))
               AND (COALESCE(t3.cnt, 0) <= 1
                    OR CAST(COALESCE(t3.cnt * len(t3.gram), 0) AS DOUBLE)
                        <= CAST(0.18 AS DOUBLE) * length(d.text))
               AS rep_ok,
               (pp.n_positions <= 0
                OR pp.score * 1000 < pp.n_positions * {_PPL_TAIL}) AS ppl_ok
        FROM documents d
        LEFT JOIN nbs_pred np ON d.doc_id = np.doc_id
        LEFT JOIN ppl pp ON d.doc_id = pp.doc_id
        LEFT JOIN line_stats ls ON d.doc_id = ls.doc_id
        LEFT JOIN top2 t2 ON d.doc_id = t2.doc_id
        LEFT JOIN top3 t3 ON d.doc_id = t3.doc_id
    )
    SELECT doc_id, lang_ok, rep_ok, ppl_ok,
           (lang_ok AND rep_ok AND ppl_ok) AS keep
    FROM flags
    """


@query(
    "docs_quality_funnel",
    _funnel_oracle(),
    doc="[EXT] The composed quality-filter funnel — the CCNet/RedPajama "
    "filter stack as ONE Catalyst plan: NB language gate (broadcast "
    "exact-integer model trained on the 80% labeled split, applied to "
    "every doc), Gopher repetition rules (per-row narrow sorted-run "
    "folds), and the perplexity tail cut (broadcast bigram-LM surprise, "
    "integer cross-multiplied threshold).  Per-doc verdict row "
    "(doc_id, lang_ok, rep_ok, ppl_ok, keep) pinned hash-green — every "
    "stage's decision for every document, replayed bit-for-bit in "
    "DuckDB.  Scale shape: all three models/tables broadcast (V x C NB "
    "model, driver-bounded LM tables); the two doc_id-keyed aggregate "
    "joins (NB pred, perplexity score) shuffle on the unique doc id — "
    "no token-keyed corpus shuffle anywhere; the repetition stage is "
    "pure narrow expressions.",
    tags=("text", "quality", "pipeline", "bench"),
)
def docs_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.functions.quality import (
        duplicate_line_stats,
        top_ngram_stats,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.nbayes import (
        nb_classify,
        nb_train,
    )
    from kafka_streams_dead_letter_publishing_spark.operators.perplexity import (
        bigram_lm,
        surprise_scores,
    )

    # r17 optimization (guide §1.2, the DocumentIngest staging lesson):
    # every stage of the funnel consumes the SAME tokenization — NB
    # training (80% split), NB scoring (all docs), the bigram-LM build
    # (en split), the perplexity scoring (all docs) and the repetition
    # rules' n-gram folds.  Before: each branch re-ran the scan +
    # tokenize chain (7+ passes, all on the single-file scan's ONE
    # partition).  Now: fan out, tokenize ONCE behind a persist barrier,
    # and thread the staged column through every operator (their r17
    # ``toks_col`` parameter).  Eviction-recompute is safe; the
    # ContextCleaner unpins the cache when the query's references drop.
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    )
    staged = docs.withColumn("toks", tokens(_norm(F.col("text")))).persist()
    try:
        model = nb_train(
            staged.filter(F.expr(_NB_TRAIN_WHERE)), "lang", toks_col="toks"
        )
    except ValueError as e:
        if "empty" not in str(e):
            raise
        return spark.createDataFrame(
            [],
            "doc_id bigint, lang_ok boolean, rep_ok boolean, "
            "ppl_ok boolean, keep boolean",
        )
    preds = nb_classify(staged, model, toks_col="toks").select(
        "doc_id", (F.col("pred") == "en").alias("lang_ok")
    )
    uni, bi, v = bigram_lm(
        staged.filter(F.col("lang") == "en"), toks_col="toks"
    )
    scores = surprise_scores(staged, uni, bi, v, toks_col="toks").select(
        "doc_id",
        (
            (F.col("n_positions") <= 0)
            | (F.col("score") * 1000 < F.col("n_positions") * _PPL_TAIL)
        ).alias("ppl_ok"),
    )
    ls = duplicate_line_stats(F.col("text"))
    g2 = top_ngram_stats(F.col("toks"), 2)
    g3 = top_ngram_stats(F.col("toks"), 3)
    rep = staged.select(
        "doc_id",
        ls["n_lines"].alias("_nl"),
        ls["dup_lines"].alias("_dl"),
        ls["dup_chars"].alias("_dc"),
        F.length("text").alias("_nc"),
        g2["count"].alias("_c2"),
        g2["chars"].alias("_h2"),
        g3["count"].alias("_c3"),
        g3["chars"].alias("_h3"),
    ).select(
        "doc_id",
        (
            (
                (F.col("_nl") == 0)
                | (
                    (F.col("_dl") <= F.lit(0.30) * F.col("_nl"))
                    & (F.col("_dc") <= F.lit(0.20) * F.col("_nc"))
                )
            )
            & ((F.col("_c2") <= 1) | (F.col("_h2") <= F.lit(0.20) * F.col("_nc")))
            & ((F.col("_c3") <= 1) | (F.col("_h3") <= F.lit(0.18) * F.col("_nc")))
        ).alias("rep_ok"),
    )
    return (
        rep.join(preds, "doc_id")
        .join(scores, "doc_id")
        .select(
            "doc_id",
            "lang_ok",
            "rep_ok",
            "ppl_ok",
            (F.col("lang_ok") & F.col("rep_ok") & F.col("ppl_ok")).alias("keep"),
        )
    )


def _fertility_oracle() -> str:
    from kafka_streams_dead_letter_publishing_spark.functions.bpe import (
        bpe_count_sql,
    )

    return f"""
    WITH scored AS (
        SELECT lang,
               CAST(length({_NORM_SQL}) AS BIGINT) AS n_chars,
               CAST({bpe_count_sql('text')} AS BIGINT) AS n_bpe
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
           CAST((1000 * SUM(n_chars)) // GREATEST(SUM(n_bpe), 1)
               AS BIGINT) AS chars_per_token_milli
    FROM scored GROUP BY lang
    """


@query(
    "docs_tokenizer_fertility",
    _fertility_oracle(),
    doc="[EXT] Tokenizer fertility report per language: normalized chars "
    "per BPE token (milli units, integer division) — the tokenizer-"
    "efficiency audit a multilingual corpus release reports (languages "
    "the merges under-serve show low chars/token, i.e. high fertility "
    "cost).  Uses the pinned 16-merge chain (zero UDFs) and the pinned "
    "normalization; the ratio is integer cross-divided so both engines "
    "agree exactly.  One partial-agg pass; per-row narrow counting.",
    tags=("text", "tokens", "bpe", "report"),
)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_dead_letter_publishing_spark.functions.bpe import (
        bpe_token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.length(_norm(F.col("text"))).cast("long").alias("n_chars"),
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("n_bpe").cast("long").alias("sum_bpe"),
        F.expr("CAST((1000 * SUM(n_chars)) DIV GREATEST(SUM(n_bpe), 1) AS BIGINT)")
        .alias("chars_per_token_milli"),
    )
