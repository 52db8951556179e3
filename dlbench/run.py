#!/usr/bin/env python3
"""Dead-letter engine benchmark: run one workload by name and seed.

    python3 dlbench/run.py --workload dlt-drain-clean --seed 7 --seconds 10 --trace 0

Run from the repository root.  The engine is driven only through
``DeadLetterStream`` (with ``topology=``, ``sink=`` and ``metrics=``),
``route()`` and ``DocumentIngest.process_batch``; its input is parquet
written by the seeded generator in ``loadgen``.  Every output record is
graded by ``checker``.  One line per metric (name, value, unit) goes to
stdout, then the environment record, then, as the LAST line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, from spans around the calls into each layer, plus
the tracing overhead against untraced episodes of the same run.  Any
failed record makes the exit code 1.  See ``dlbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the engine package and bench.py live at the repository root
sys.path.insert(1, str(ROOT))

import numpy as np  # noqa: E402

import loadgen  # noqa: E402
from checker import Grade, grade_channels, grade_corpus  # noqa: E402
from tracing import Environment, Tracer, engine_peak_rss_mb, tree_cpu_s  # noqa: E402

from kafka_streams_dead_letter_publishing_spark.config import EngineConfig  # noqa: E402
from kafka_streams_dead_letter_publishing_spark.operators.topology import route  # noqa: E402
from kafka_streams_dead_letter_publishing_spark.streaming.ingest_pipeline import (  # noqa: E402
    DocumentIngest,
)
from kafka_streams_dead_letter_publishing_spark.streaming.runner import (  # noqa: E402
    DeadLetterStream,
    parquet_sink_writer,
)

WORK_ROOT = ROOT / ".dlbench_work"
#: Spark session pinned for every commit measured: at most 3 local cores
#: and one fewer than the machine has, so the coordinating process (Python, py4j,
#: the JVM scheduler, the load generator) keeps a core of its own — on 4
#: cores, local[4] ran the poison drain 13% slower and noisier than
#: local[3]; a JVM heap sized for a 15 GB machine shared with other
#: jobs and touched in full at start (so peak RSS does not depend on when
#: the collector chose to grow the heap); no UI
MAX_CORES = 3
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "throughput_rps": "records/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "cpu_s_per_krec": "s",
    "peak_rss_mb": "MB",
}
_SINKS = ("output", "deser_dlt", "process_dlt", "prod_dlt")
_PROGRESS_PARTS = ("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
PER_LAYER = {
    "operators.topology.route_ms": "ms",
    "streaming.runner.trigger_overhead_ms": "ms",
    **{f"streaming.runner.{p}_ms": "ms" for p in _PROGRESS_PARTS},
    "streaming.runner.process_batch_ms": "ms",
    "streaming.runner.process_batch_self_ms": "ms",
    "streaming.runner.dlt_phase_ms": "ms",
    "streaming.runner.dlt_overlap": "ratio",
    "sink.output.write_ms_per_krec": "ms",
    "sink.output.records": "records",
    "sink.output.bytes": "bytes",
    **{
        f"sink.{s}.{m}": u
        for s in _SINKS[1:]
        for m, u in (("write_ms", "ms"), ("records", "records"), ("bytes", "bytes"))
    },
    "sink.empty_write_ms": "ms",
    "spark.jobs_per_batch": "jobs",
    "ingest.process_batch_ms": "ms",
    "ingest.batch_ms_slope": "ms",
    "ingest.store_files": "files",
    "ingest.reject_frac": "ratio",
    "loadgen.late_ms_max": "ms",
    "trace.overhead_frac": "ratio",
}

PROCESS_BATCH = "streaming.runner.process_batch"
ROUTE = "operators.topology.route"
INGEST_BATCH = "ingest.process_batch"

Topology = Callable  # (DataFrame, EngineConfig) -> Routed

PACED_INTERVAL_S = 0.1
PACED_TRIGGER_S = 0.5


@dataclass(frozen=True)
class Scale:
    """Input sizes.  FULL is what the benchmark measures; TINY is the
    self-test's."""

    files: int  # drain backlog files
    rows_per_file: int
    files_per_trigger: int
    paced_rows_per_file: int  # one file every PACED_INTERVAL_S
    paced_warmup_s: float
    paced_window_s: float
    docs: int
    doc_batches: int


FULL = Scale(
    files=12,
    rows_per_file=2560,
    files_per_trigger=4,
    paced_rows_per_file=200,
    paced_warmup_s=6.0,
    paced_window_s=2.5,
    docs=6000,
    doc_batches=4,
)
TINY = Scale(
    files=4,
    rows_per_file=64,
    files_per_trigger=2,
    paced_rows_per_file=20,
    paced_warmup_s=1.0,
    paced_window_s=0.5,
    docs=200,
    doc_batches=3,
)


@dataclass
class Episode:
    """One timed drain, paced window or ingest pass.  End-to-end metrics
    are medians over the untraced episodes of a run."""

    grade: Grade
    #: records delivered ÷ wall from query start to the last sink commit
    rate: float
    #: process-tree CPU seconds per 1000 records
    cpu_per_krec: float
    traced: bool

    @classmethod
    def timed(cls, grade: Grade, wall_s: float, cpu_s: float, traced: bool) -> "Episode":
        n = len(grade.latency_ns)
        delivered = int(np.isfinite(grade.latency_ns).sum())
        return cls(grade, delivered / wall_s, cpu_s / (n / 1000), traced)


@dataclass
class LayerLog:
    """Raw per-layer observations from the traced episodes."""

    progress: list[dict] = field(default_factory=list)
    routed: dict[str, dict[str, int]] = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    sink_bytes: dict[tuple[str, str], int] = field(default_factory=dict)
    ingest_batch_ms: list[list[float]] = field(default_factory=list)
    store_files: int = 0
    reject_frac: list[float] = field(default_factory=list)
    late_ms_max: float = 0.0
    overhead_frac: float = 0.0


class Bench:
    """State of one benchmark run: session, work directory, tracer."""

    def __init__(self, spark, work: str, seed: int, scale: Scale, topology: Topology) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.topology = topology
        self.cores = spark.sparkContext.defaultParallelism
        self.tracer = Tracer()
        self.log = LayerLog()
        self.cfg = EngineConfig()
        self.topics = {
            loadgen.OUTPUT: self.cfg.output_topic,
            loadgen.DESER: self.cfg.deser_dlt,
            loadgen.PROCESS: self.cfg.process_dlt,
            loadgen.PROD: self.cfg.prod_dlt,
        }
        self.sink_name = dict(zip(self.topics.values(), _SINKS))

    def last_job_id(self, groups: tuple[str | None, ...]) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        return max((j for g in groups for j in tracker.getJobIdsForGroup(g)), default=-1)

    def sink_bytes(self, out_dir: str) -> None:
        """Bytes of data files per (batch, topic) of a traced episode."""
        for batch in os.listdir(out_dir):
            for topic in os.listdir(os.path.join(out_dir, batch)):
                d = os.path.join(out_dir, batch, topic)
                self.log.sink_bytes[(batch, topic)] = sum(
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d)
                    if f.endswith(".parquet") and not f.startswith(".")
                )


class BenchStream(DeadLetterStream):
    """The engine's stream with the benchmark's sink and probes.

    The sink is the engine's ``parquet_sink_writer`` rooted at one
    directory per micro-batch, so the checker can tie each record to the
    write that carried it; the wall time each write completed is kept in
    ``commits``.  While the tracer is on, calls into ``process_batch``,
    the topology and each sink write are spanned, the routed counts come
    from a ``MetricsHook``, and Spark job ids are read around each batch."""

    def __init__(self, bench: Bench, cfg: EngineConfig, out_dir: str, tag: str) -> None:
        super().__init__(cfg, sink=self._write, topology=self._route)
        self.bench = bench
        self.out_dir = out_dir
        self.tag = tag
        self.batch_key = ""
        self.commits: dict[tuple[str, str], int] = {}

    def _route(self, df, cfg):
        with self.bench.tracer.span(ROUTE, PROCESS_BATCH, self.batch_key):
            return self.bench.topology(df, cfg)

    def _write(self, df, topic: str) -> None:
        key = self.batch_key
        name = f"sink.{self.bench.sink_name[topic]}.write"
        with self.bench.tracer.span(name, PROCESS_BATCH, key):
            parquet_sink_writer(os.path.join(self.out_dir, key))(df, topic)
        self.commits[(key, topic)] = time.time_ns()

    def _count(self, batch_id: int, counts: dict[str, int]) -> None:
        self.bench.log.routed[self.batch_key] = counts

    def process_batch(self, batch, batch_id: int) -> None:
        self.batch_key = f"{self.tag}.{batch_id}"
        traced = self.bench.tracer.enabled
        self.metrics = self._count if traced else None
        if traced:
            # the output write runs in the query's job group, the three
            # dead-letter writes (pool threads) in none
            groups = (None, self.bench.spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
            jobs_before = self.bench.last_job_id(groups)
        with self.bench.tracer.span(PROCESS_BATCH, None, self.batch_key):
            super().process_batch(batch, batch_id)
        if traced:
            self.bench.log.jobs.append(self.bench.last_job_id(groups) - jobs_before)


def _source(bench: Bench, directory: str, files_per_trigger: int | None = None):
    reader = bench.spark.readStream.schema(loadgen.SOURCE_DDL)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    return reader.parquet(directory)


class Drain:
    """A pre-staged backlog drained with ``availableNow`` at a fixed number
    of files (records) per trigger; each timed episode is a fresh query
    over the same backlog, its clock starting at query start."""

    def __init__(self, bench: Bench, mix: loadgen.Mix) -> None:
        self.bench = bench
        self.mix = mix
        self.input_dir = os.path.join(bench.work, "in")
        self.intent = None

    def setup(self) -> None:
        s = self.bench.scale
        self.intent = loadgen.stage_backlog(
            self.input_dir, self.bench.seed, self.mix, s.files, s.rows_per_file
        )
        # warm-up: a fresh JVM drains 1.4-1.9x slower the first time, and
        # the poison mix's paths are still compiling in the second
        for k in range(2):
            self.episode(f"warmup{k}", traced=False)

    def episode(self, tag: str, traced: bool) -> Episode:
        b = self.bench
        cfg = replace(
            b.cfg,
            checkpoint_dir=os.path.join(b.work, f"ck-{tag}"),
            application_id=f"dlbench-{tag}",
        )
        out_dir = os.path.join(b.work, f"out-{tag}")
        stream = BenchStream(b, cfg, out_dir, tag)
        source = _source(b, self.input_dir, b.scale.files_per_trigger)
        b.tracer.enabled = traced
        cpu0 = tree_cpu_s()
        start_ns = time.time_ns()
        query = stream.start(source, {"availableNow": True})
        try:
            if not query.awaitTermination(120):
                raise RuntimeError(f"drain {tag} did not finish in 120 s")
        finally:
            b.tracer.enabled = False
            query.stop()
        cpu_s = tree_cpu_s() - cpu0
        if traced:
            b.log.progress += [p["durationMs"] for p in query.recentProgress]
            b.sink_bytes(out_dir)
        grade = grade_channels(out_dir, self.intent, b.topics, stream.commits, start_ns)
        wall_s = (max(stream.commits.values()) - start_ns) / 1e9
        shutil.rmtree(out_dir)
        shutil.rmtree(cfg.checkpoint_dir)
        return Episode.timed(grade, wall_s, cpu_s, traced)

    def measure(self, seconds: float, trace: bool) -> list[Episode]:
        self.timed_start = time.perf_counter()
        episodes = _repeat(self.episode, seconds, trace)
        if trace:
            self.bench.log.overhead_frac = _overhead(episodes)
        return episodes


class Paced:
    """Open loop: the generator writes one small file every interval, at a
    fixed absolute rate, into a live query with a ``processingTime``
    trigger.  The first ``paced_warmup_s`` of the schedule is set-up; the
    next ``seconds`` are timed.  Throughput and CPU come from the whole
    timed window; latency is cut into an even number of windows of about
    ``paced_window_s`` by due time, each one episode, so its percentiles
    are medians over windows like every other workload's.  A traced run
    turns tracing on for the second half of the windows only."""

    def __init__(self, bench: Bench) -> None:
        self.bench = bench

    def setup(self) -> None:
        pass  # the warm-up is the head of the schedule, see measure()

    def measure(self, seconds: float, trace: bool) -> list[Episode]:
        b, s = self.bench, self.bench.scale
        input_dir = os.path.join(b.work, "in")
        os.makedirs(input_dir)
        cfg = replace(b.cfg, checkpoint_dir=os.path.join(b.work, "ck-paced"))
        out_dir = os.path.join(b.work, "out-paced")
        stream = BenchStream(b, cfg, out_dir, "p")
        query = stream.start(
            _source(b, input_dir), {"processingTime": f"{PACED_TRIGGER_S} seconds"}
        )
        writer = loadgen.PacedWriter(
            input_dir,
            b.seed,
            loadgen.PACED,
            s.paced_rows_per_file,
            PACED_INTERVAL_S,
            s.paced_warmup_s + seconds,
        )
        try:
            writer.start()
            while writer.start_ns == 0 and writer.is_alive():
                time.sleep(0.001)
            timed_ns = writer.start_ns + int(s.paced_warmup_s * 1e9)
            windows = max(2, 2 * round(seconds / (2 * s.paced_window_s)))
            window_ns = int(seconds * 1e9 / windows)
            half_ns = timed_ns + window_ns * windows // 2
            _sleep_until(timed_ns)
            self.timed_start = time.perf_counter()
            cpu0 = tree_cpu_s()
            if trace:
                _sleep_until(half_ns)
                b.tracer.enabled = True
            intent = writer.finish(seconds + s.paced_warmup_s + 60)
            query.processAllAvailable()
            cpu_s = tree_cpu_s() - cpu0
        finally:
            b.tracer.enabled = False
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(f"paced query failed: {query.exception()}")
        if trace:
            b.log.progress += [
                p["durationMs"]
                for p in query.recentProgress
                if p["numInputRows"] and p["timestamp"] >= _iso(half_ns)
            ]
            b.sink_bytes(out_dir)
            b.log.late_ms_max = max(writer.late_ns) / 1e6
        full = grade_channels(out_dir, intent, b.topics, stream.commits, timed_ns)
        stamp = intent["stamp"].to_numpy()
        timed = stamp >= timed_ns
        whole = Episode.timed(
            Grade(latency_ns=full.latency_ns[timed]),
            (np.max(full.latency_ns[timed] + stamp[timed]) - timed_ns) / 1e9,
            cpu_s,
            traced=False,
        )
        episodes = []
        for k in range(windows):
            lo = timed_ns + k * window_ns
            mask = (stamp >= lo) & (stamp < lo + window_ns)
            grade = Grade(attempted=int(mask.sum()), latency_ns=full.latency_ns[mask])
            traced = trace and lo >= half_ns
            episodes.append(Episode(grade, whole.rate, whole.cpu_per_krec, traced))
        # correctness covers every record written, warm-up included
        episodes[0].grade.attempted += int((~timed).sum())
        episodes[0].grade.failed = full.failed
        episodes[0].grade.reasons = full.reasons
        if trace:
            b.log.overhead_frac = _overhead(episodes, key=_p50)
        shutil.rmtree(out_dir)
        return episodes


class Ingest:
    """A seeded document corpus fed as K micro-batches through
    ``DocumentIngest.process_batch``; each timed episode is one full pass
    into a fresh store, its clock starting at the first batch."""

    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.paths: list[str] = []

    def setup(self) -> None:
        s = self.bench.scale
        self.paths, self.doc_batch = loadgen.stage_documents(
            os.path.join(self.bench.work, "docs"), self.bench.seed, s.docs, s.doc_batches
        )
        self.planted = loadgen.planted_ids(s.docs)
        self.episode("warmup", traced=False)

    def episode(self, tag: str, traced: bool) -> Episode:
        b = self.bench
        base = os.path.join(b.work, f"ingest-{tag}")
        ingest = DocumentIngest(base_dir=base, fan_out_partitions=b.cores)
        b.tracer.enabled = traced
        batch_ms, done_ns = [], []
        cpu0 = tree_cpu_s()
        start_ns = time.time_ns()
        try:
            for k, path in enumerate(self.paths):
                batch = b.spark.read.parquet(path)
                if traced:
                    jobs_before = b.last_job_id((None,))
                t = time.perf_counter()
                with b.tracer.span(INGEST_BATCH, None, f"{tag}.{k}"):
                    ingest.process_batch(batch, k)
                batch_ms.append((time.perf_counter() - t) * 1e3)
                done_ns.append(time.time_ns())
                if traced:
                    b.log.jobs.append(b.last_job_id((None,)) - jobs_before)
        finally:
            b.tracer.enabled = False
        cpu_s = tree_cpu_s() - cpu0
        grade = grade_corpus(
            os.path.join(base, "corpus"),
            b.scale.docs,
            self.planted,
            self.doc_batch,
            done_ns,
            start_ns,
        )
        if traced:
            b.log.ingest_batch_ms.append(batch_ms)
            bands = ingest.bands_path
            b.log.store_files = sum(
                1 for _, _, fs in os.walk(bands) for f in fs if f.endswith(".parquet")
            )
            b.log.reject_frac.append(1 - _kept(os.path.join(base, "corpus")) / b.scale.docs)
        shutil.rmtree(base)
        return Episode.timed(grade, (done_ns[-1] - start_ns) / 1e9, cpu_s, traced)

    def measure(self, seconds: float, trace: bool) -> list[Episode]:
        self.timed_start = time.perf_counter()
        episodes = _repeat(self.episode, seconds, trace)
        if trace:
            self.bench.log.overhead_frac = _overhead(episodes)
        return episodes


WORKLOADS: dict[str, Callable[[Bench], object]] = {
    "dlt-drain-clean": lambda b: Drain(b, loadgen.CLEAN),
    "dlt-drain-poison": lambda b: Drain(b, loadgen.POISON),
    "dlt-paced": Paced,
    "doc-ingest": Ingest,
}


def _kept(corpus_dir: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(corpus_dir, columns=["doc_id"]).num_rows


def _iso(ns: int) -> str:
    """StreamingQueryProgress timestamp format, comparable as a string."""
    ms = ns // 1_000_000
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms / 1000)) + f".{ms % 1000:03d}Z"


def _sleep_until(ns: int) -> None:
    wait = (ns - time.time_ns()) / 1e9
    if wait > 0:
        time.sleep(wait)


def _repeat(episode, seconds: float, trace: bool) -> list[Episode]:
    """Episodes until ``seconds`` have passed.  A traced run alternates
    untraced and traced episodes (at least one of each)."""
    episodes: list[Episode] = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(episodes) < (2 if trace else 1):
        k = len(episodes)
        episodes.append(episode(f"t{k}", traced=trace and k % 2 == 1))
    return episodes


def _p50(e: Episode) -> float:
    return float(np.median(e.grade.latency_ns))


def _cost(e: Episode) -> float:
    return 1 / e.rate


def _overhead(episodes: list[Episode], key=_cost) -> float:
    """Median traced / median untraced episode cost, minus one."""
    traced = [key(e) for e in episodes if e.traced]
    plain = [key(e) for e in episodes if not e.traced]
    return statistics.median(traced) / statistics.median(plain) - 1


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _quantile_ms(e: Episode, q: float) -> float:
    # "higher": no interpolation, so an undelivered (inf) record counts as
    # over any limit instead of turning the percentile into nan
    return float(np.quantile(e.grade.latency_ns, q, method="higher")) / 1e6


def end_to_end(episodes: list[Episode], setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    plain = [e for e in episodes if not e.traced]
    med = lambda f: statistics.median(f(e) for e in plain)  # noqa: E731
    return {
        "setup_s": setup_s,
        "throughput_rps": med(lambda e: e.rate),
        "latency_p50_ms": med(lambda e: _quantile_ms(e, 0.50)),
        "latency_p99_ms": med(lambda e: _quantile_ms(e, 0.99)),
        "cpu_s_per_krec": med(lambda e: e.cpu_per_krec),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(bench: Bench) -> dict[str, float]:
    t, log = bench.tracer, bench.log
    ms = lambda spans: [(s.end - s.start) * 1e3 for s in spans]  # noqa: E731
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["operators.topology.route_ms"] = _mean(ms(t.named(ROUTE)))
    batches = [p for p in log.progress if "addBatch" in p]
    out["streaming.runner.trigger_overhead_ms"] = _mean(
        p["triggerExecution"] - p["addBatch"] for p in batches
    )
    for part in _PROGRESS_PARTS:
        out[f"streaming.runner.{part}_ms"] = _mean(p.get(part, 0) for p in batches)
    out["streaming.runner.process_batch_ms"] = _mean(ms(t.named(PROCESS_BATCH)))
    out["streaming.runner.process_batch_self_ms"] = _mean(
        x * 1e3 for x in t.self_times(PROCESS_BATCH)
    )

    writes: dict[str, list] = {}  # batch -> [(sink, span)]
    for sink in _SINKS:
        for s in t.named(f"sink.{sink}.write"):
            writes.setdefault(s.batch_id, []).append((sink, s))
    phases, overlap_num, overlap_den, empty = [], 0.0, 0.0, []
    topic_of = {v: k for k, v in bench.sink_name.items()}
    for batch, ws in writes.items():
        dlt = [s for sink, s in ws if sink != "output"]
        if dlt:
            wall = max(s.end for s in dlt) - min(s.start for s in dlt)
            phases.append(wall * 1e3)
            overlap_num += sum(s.end - s.start for s in dlt)
            overlap_den += wall
        counts = log.routed.get(batch, {})
        empty.append(
            sum((s.end - s.start) * 1e3 for sink, s in ws if counts.get(topic_of[sink]) == 0)
        )
    out["streaming.runner.dlt_phase_ms"] = _mean(phases)
    out["streaming.runner.dlt_overlap"] = overlap_num / overlap_den if overlap_den else 0.0
    out["sink.empty_write_ms"] = _mean(empty)
    for sink in _SINKS:
        topic = topic_of[sink]
        records = [c.get(topic, 0) for c in log.routed.values()]
        nbytes = [v for (_, tp), v in log.sink_bytes.items() if tp == topic]
        write_ms = ms(t.named(f"sink.{sink}.write"))
        if sink == "output":
            krec = sum(records) / 1000
            out["sink.output.write_ms_per_krec"] = sum(write_ms) / krec if krec else 0.0
        else:
            out[f"sink.{sink}.write_ms"] = _mean(write_ms)
        out[f"sink.{sink}.records"] = _mean(records)
        out[f"sink.{sink}.bytes"] = _mean(nbytes)
    out["spark.jobs_per_batch"] = _mean(log.jobs)

    if log.ingest_batch_ms:
        out["ingest.process_batch_ms"] = _mean(x for p in log.ingest_batch_ms for x in p)
        out["ingest.batch_ms_slope"] = _mean(
            float(np.polyfit(np.arange(len(p)), p, 1)[0]) for p in log.ingest_batch_ms
        )
        out["ingest.store_files"] = float(log.store_files)
        out["ingest.reject_frac"] = _mean(log.reject_frac)
    out["loadgen.late_ms_max"] = log.late_ms_max
    out["trace.overhead_frac"] = log.overhead_frac
    return out


def session_cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))


def start_session(work: str, cores: int):
    """The pinned local session; every scratch path inside ``work``."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("dlbench")
        .config("spark.driver.memory", HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
            f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@dataclass
class Result:
    attempted: int
    failed: int
    reasons: dict
    metrics: dict[str, float]
    units: dict[str, str]
    samples: int


def run_workload(
    spark,
    work: str,
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    scale: Scale = FULL,
    topology: Topology = route,
    t0: float | None = None,
) -> Result:
    """Set up, warm up and measure one workload on a running session.
    ``t0`` is when set-up began (default: now)."""
    t0 = time.perf_counter() if t0 is None else t0
    bench = Bench(spark, work, seed, scale, topology)
    workload = WORKLOADS[name](bench)
    workload.setup()
    episodes = workload.measure(seconds, trace)
    setup_s = workload.timed_start - t0
    if trace:
        bench.tracer.dump(os.path.join(work, "spans.json"))
        metrics, units = per_layer(bench), PER_LAYER
    else:
        metrics = end_to_end(episodes, setup_s, engine_peak_rss_mb())
        units = END_TO_END
    grade = Grade()
    for e in episodes:
        grade.add(e.grade)
    return Result(
        attempted=grade.attempted,
        failed=grade.failed,
        reasons=dict(grade.reasons),
        metrics=metrics,
        units=units,
        samples=sum(len(e.grade.latency_ns) for e in episodes if not e.traced),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    env = Environment()
    cores = session_cores()
    work = str(WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    try:
        res = run_workload(
            spark, work, args.workload, args.seed, args.seconds, bool(args.trace), t0=t0
        )
    finally:
        stop_session(spark)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(WORK_ROOT / "spans", exist_ok=True)
            shutil.move(spans, WORK_ROOT / "spans" / f"{args.workload}-{args.seed}.json")
        shutil.rmtree(work, ignore_errors=True)

    for name, value in res.metrics.items():
        print(f"metric {name} {value:.6g} {res.units[name]}")
    print(f"failed_frac {res.failed / res.attempted:.6g} ratio ({res.failed}/{res.attempted})")
    print(f"latency_samples {res.samples}")
    if res.reasons:
        print("failures " + json.dumps(res.reasons))
    print("env " + json.dumps(env.finish(cores)))
    correct = res.failed == 0
    metrics = {
        k: {"value": v if math.isfinite(v) else None, "unit": res.units[k]}
        for k, v in res.metrics.items()
    }
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
