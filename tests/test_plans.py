"""Registry smoke tests — the r1 failure class (unimportable registry,
import-time Column construction, unwired driver contract) must never ship
silently again."""

from __future__ import annotations

import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SMOKE_SF = "/root/testdata/sf0.001"


def test_registry_imports_without_spark_session():
    """The driver imports the registry BEFORE building a session: importing
    plans must not touch the JVM (no Column construction at import time)."""
    code = (
        "import kafka_streams_dead_letter_publishing_spark.plans as p; "
        "import __spark_entry__ as e; "
        "assert len(p.QUERIES) >= 25, len(p.QUERIES); "
        "q = e.queries(); o = e.oracle_sql(); "
        "assert set(o) <= set(q); "
        "assert len(q) == len(p.QUERIES)"
    )
    subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True, capture_output=True, timeout=120
    )


def test_every_query_has_aligned_oracle_metadata():
    from kafka_streams_dead_letter_publishing_spark.plans import QUERIES

    for name, q in QUERIES.items():
        assert q.doc, name
        assert q.oracle is None or "SELECT" in q.oracle.upper(), name


def test_all_queries_execute_at_smoke_sf(spark):
    """Every registered query runs end-to-end at sf0.001 (plan validity +
    executability; value correctness is the sf0.01 oracle gate)."""
    from kafka_streams_dead_letter_publishing_spark.plans import QUERIES

    for qname, q in QUERIES.items():
        assert q.spark(spark, SMOKE_SF).count() >= 0, qname


def test_rotation_window_covers_every_query_within_two_rounds():
    """The driver records CORRECTNESS rows for only the first 50 entries of
    queries(); the registry is larger.  The rotation contract: the upcoming
    round's 50-entry window plus the PREVIOUS round's recorded rows must
    cover every registered query — so no query is ever starved for more
    than one round (r7 verdict #2)."""
    import json

    import __spark_entry__ as e
    from kafka_streams_dead_letter_publishing_spark.plans import QUERIES

    names = list(e.queries())
    assert set(names) == set(QUERIES)
    # oracle_sql follows the same rotation order (minus no-oracle rows)
    assert list(e.oracle_sql()) == [n for n in names if QUERIES[n].oracle is not None]
    window = set(names[: e._DRIVER_WINDOW])
    prev = e._completed_rounds()
    prev_file = REPO / f"CORRECTNESS_r{prev:02d}.json"
    if prev_file.exists():
        prev_rows = set(json.load(open(prev_file)))
        starved = set(QUERIES) - window - prev_rows
        assert not starved, sorted(starved)
    # rotation is deterministic for a fixed repo state
    assert names == list(e.queries())


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_approx_distinct_within_hll_error_bounds(spark, sf):
    """events_approx_distinct_users could never carry a value oracle (HLL
    sketches are engine-specific) and was retired from the registry r14
    in favor of the oracle-replayable KMV family — its SEMANTICS stay
    pinned here: each per-type estimate must sit within 3× the default
    HLL++ relative standard deviation (rsd 0.05) of the exact distinct
    count, at both the oracle sf and the bench sf (r6 verdict #5)."""
    from pyspark.sql import functions as F

    from kafka_streams_dead_letter_publishing_spark.plans.text import (
        events_approx_distinct_users,
    )
    from kafka_streams_dead_letter_publishing_spark.sources.tables import load_table

    approx = {
        r.event_type: r.approx_users
        for r in events_approx_distinct_users(spark, sf).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for etype, n in exact.items():
        assert abs(approx[etype] - n) <= max(3, 3 * 0.05 * n), (etype, approx[etype], n)


def test_clear_plan_caches_evicts_and_rebuilds(spark):
    """r8 watch item: the per-sf_dir memos (learned-IVF/PQ/IVF-PQ index
    paths) must be evictable in a long-lived process; after eviction the
    queries rebuild and return identical results.  r18: the pipeline's
    stage boundary is no longer a cross-call memo (the r17 verdict's
    gaming finding) — every invocation recomputes; the one-slot holder
    only bounds cache growth and must drain on clear_plan_caches."""
    from kafka_streams_dead_letter_publishing_spark.plans import (
        QUERIES,
        clear_plan_caches,
    )
    from kafka_streams_dead_letter_publishing_spark.plans.similarity import (
        _LEARNED_INDEX_CACHE,
    )
    from kafka_streams_dead_letter_publishing_spark.plans.text import (
        _PIPELINE_STAGE_SLOT,
    )

    def persistent_rdd_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    sf = "/root/testdata/sf0.001"
    ids_start = persistent_rdd_ids()
    before = QUERIES["docs_pretraining_pipeline"].spark(spark, sf).count()
    assert len(_PIPELINE_STAGE_SLOT) == 1  # exactly the live invocation's
    # a second invocation must RELEASE the first frame, never stack — and
    # must not reuse it (fresh barrier per call, no cross-call memo).
    # NOTE storageLevel can't witness the release: both invocations build
    # the IDENTICAL analyzed plan, so the plan-keyed cacheManager lookup
    # hits invocation #2's live entry.  The JVM cache registry is the
    # ground truth — the RDDs added since the start must stay flat, not
    # grow per invocation.  Counting only ids absent at the start keeps
    # the ContextCleaner freeing RDDs of earlier tests out of the count.
    first = _PIPELINE_STAGE_SLOT[0]
    added_after_first = persistent_rdd_ids() - ids_start
    again = QUERIES["docs_pretraining_pipeline"].spark(spark, sf).count()
    assert again == before
    assert len(_PIPELINE_STAGE_SLOT) == 1
    assert _PIPELINE_STAGE_SLOT[0] is not first
    assert len(persistent_rdd_ids() - ids_start) == len(added_after_first)
    clear_plan_caches()
    assert not _PIPELINE_STAGE_SLOT
    assert not _LEARNED_INDEX_CACHE
    after = QUERIES["docs_pretraining_pipeline"].spark(spark, sf).count()
    assert after == before
