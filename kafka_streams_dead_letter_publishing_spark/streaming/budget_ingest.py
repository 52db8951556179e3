"""Budget-capped streaming ingest ([EXT]): the 24/7 form of the batch
mixture sampler (``operators/budget.py``) — accept arriving documents
until each source's token budget is exhausted, across micro-batches
("collect 10 B tokens of web and 3 B of code, then stop").

Per batch: learn what each source has already spent, derive the REMAINING
budgets, and admit this batch's rows through ``token_budget_sample`` with
those budgets (greedy md5-order within the batch, arrival order across
batches).  Survivors append to the corpus; one delta row per accepted
source PLUS one batch-marker row append to the totals store.

STATE & RECOVERY (same posture as ``ingest_pipeline.py``): state is
append-only parquet; nothing data-sized ever reaches the driver.  The
totals store holds one row per (batch, source) plus one NULL-source
marker per batch; it is read ONCE per driver lifetime (then maintained
incrementally in memory — the per-trigger cost is O(#sources), not
O(#batches)), and :meth:`compact` collapses it to #sources + 1 rows.

EXACTLY-ONCE accounting: Structured Streaming batch ids are strictly
increasing per query, the totals rows are written LAST within a batch,
and every processed batch records its id (the marker row — even a batch
that admits nothing).  A replayed or delayed batch whose id is ≤ the
recorded high-watermark is therefore skipped entirely; compaction keeps
the watermark, so the skip survives it.  A crash between the corpus
append and the totals append replays to duplicate corpus rows
(at-least-once; readers dedup on id) but never double-counts a batch
against the budget.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.operators.budget import (
    token_budget_sample,
)
from kafka_streams_dead_letter_publishing_spark.operators.stores import store_exists


class BudgetCappedIngest:
    """foreachBatch body: batch → token scoring → admit up to each
    source's remaining budget → append survivors + a per-source spent
    delta + a batch marker.  ``budgets`` maps group value → total token
    budget; groups absent from the mapping are never admitted.

    ``token_counter`` maps the text column to a per-row token count — the
    unit the budgets are measured in.  Default is the whitespace counter;
    pass ``functions.bpe.bpe_token_count`` to fill budgets in BPE tokens
    (real pretraining budgets).  Must be a pure Column expression (it
    runs once per row on the hot path)."""

    def __init__(
        self,
        base_dir: str,
        budgets: Mapping[str, int],
        group_col: str = "source",
        id_col: str = "doc_id",
        text_col: str = "text",
        token_counter: Callable[[Column], Column] | None = None,
    ) -> None:
        self.base_dir = base_dir
        self.corpus_path = f"{base_dir}/corpus"
        self.totals_path = f"{base_dir}/totals"
        self.budgets = dict(budgets)
        self.group_col = group_col
        self.id_col = id_col
        self.text_col = text_col
        self.token_counter = token_counter
        # driver-side incremental mirror of the totals store: (spent, hwm).
        # None until first read; after that the store is only APPENDED to
        # by this instance, so the mirror stays exact without re-reading.
        self._cache: tuple[dict, int] | None = None

    def _spent_and_hwm(self, spark: SparkSession) -> tuple[dict, int]:
        """Per-source spent totals and the batch-id high-watermark (−1 when
        nothing is recorded).  Reads the store at most once per driver
        lifetime; afterwards maintained incrementally by process_batch."""
        if self._cache is not None:
            return self._cache
        if not store_exists(spark, self.totals_path):
            self._cache = ({}, -1)
            return self._cache
        rows = spark.read.parquet(self.totals_path).collect()
        spent: dict = {}
        hwm = -1
        for r in rows:
            if r["g"] is not None:
                spent[r["g"]] = spent.get(r["g"], 0) + r["tokens"]
            hwm = max(hwm, r["batch_id"])
        self._cache = (spent, hwm)
        return self._cache

    def _count_tokens(self, text: Column) -> Column:
        if self.token_counter is not None:
            return self.token_counter(text).cast("long")
        from kafka_streams_dead_letter_publishing_spark.functions.text import (
            norm_text,
            tokens,
        )

        return F.size(tokens(norm_text(text))).cast("long")

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        spent, hwm = self._spent_and_hwm(spark)
        if batch_id <= hwm:
            # replay (or delayed redelivery) of a recorded batch: batch ids
            # are monotone per query, so ≤ watermark ⇒ already accounted —
            # exactly-once budget accounting, compaction-proof
            return
        remaining = {
            g: max(0, int(b) - int(spent.get(g, 0))) for g, b in self.budgets.items()
        }
        # persist barrier: the sampler makes two passes over the batch
        # (bucket-sum aggregate, then join+window), and tokenization is
        # the dominant per-row cost — score once (same reason
        # DocumentIngest stages its tokens).  NULL-text rows cannot be
        # token-counted and are never admitted.
        scored = (
            batch.withColumn("_nt", self._count_tokens(F.col(self.text_col)))
            .filter(F.col("_nt").isNotNull())
            .persist()
        )
        try:
            accepted = token_budget_sample(
                scored, "_nt", remaining, id_col=self.id_col, group_col=self.group_col
            )
            # eager checkpoint: both writes below must see the SAME
            # admitted set even if a source file vanishes or an executor
            # is lost
            accepted = accepted.localCheckpoint(eager=True)
            accepted.drop("_nt", "running_tokens").write.mode("append").parquet(
                self.corpus_path
            )
            # totals rows written LAST — the exactly-once gate.  The delta
            # aggregate is ≤ #sources rows (config-bounded metadata), so it
            # is collected once and reused for both the store append and
            # the in-memory mirror.  The NULL-source marker records the
            # batch id even when nothing was admitted (an all-rejected
            # batch must still advance the watermark, or its replay would
            # re-append duplicate corpus rows forever).
            deltas = (
                accepted.groupBy(F.col(self.group_col).alias("g"))
                .agg(F.sum("_nt").cast("long").alias("tokens"))
                .collect()
            )
            out = [(r["g"], r["tokens"]) for r in deltas] + [(None, 0)]
            spark.createDataFrame(out, "g string, tokens long").withColumn(
                "batch_id", F.lit(int(batch_id)).cast("long")
            ).write.mode("append").parquet(self.totals_path)
            for g, t in out:
                if g is not None:
                    spent[g] = spent.get(g, 0) + t
            self._cache = (spent, int(batch_id))
        finally:
            scored.unpersist()

    def spent(self) -> dict:
        """Current per-source token totals (cached driver-side metadata)."""
        spark = SparkSession.getActiveSession()
        assert spark is not None
        return dict(self._spent_and_hwm(spark)[0])

    def compact(self, new_base_dir: str) -> "BudgetCappedIngest":
        """Collapse the totals store into ``new_base_dir``: one row per
        source plus one batch-id high-watermark marker (#sources + 1 rows
        total), with the corpus copied alongside — so a long-running
        ingest's totals store stops growing one file per (batch, source).

        The watermark marker is what keeps accounting exactly-once across
        the collapse: replay-skip compares against max(batch_id), and the
        compacted store's max is the same watermark the full store had —
        a delayed replay of any pre-compaction batch is still skipped.
        Same discipline as the other ingest compacts: writes into a FRESH
        base dir (never overwrites live state — a crash mid-compact
        leaves the old store intact) and returns the successor instance.
        """
        spark = SparkSession.getActiveSession()
        assert spark is not None, "compact() needs an active SparkSession"
        spent, hwm = self._spent_and_hwm(spark)
        rows = [(g, int(t)) for g, t in sorted(spent.items())] + [(None, 0)]
        spark.createDataFrame(rows, "g string, tokens long").withColumn(
            "batch_id", F.lit(int(hwm)).cast("long")
        ).coalesce(1).write.mode("errorifexists").parquet(f"{new_base_dir}/totals")
        if store_exists(spark, self.corpus_path):
            spark.read.parquet(self.corpus_path).repartition(self.id_col).write.mode(
                "errorifexists"
            ).parquet(f"{new_base_dir}/corpus")
        return BudgetCappedIngest(
            new_base_dir,
            self.budgets,
            group_col=self.group_col,
            id_col=self.id_col,
            text_col=self.text_col,
            token_counter=self.token_counter,
        )
