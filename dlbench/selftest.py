#!/usr/bin/env python3
"""Self-test: the benchmark runs, and its checker bites.

    python3 dlbench/selftest.py

Run from the repository root, in one Spark session, at the TINY scale:

1. every workload, untraced and traced, passes the checker;
2. a ``topology=`` that swaps the deserialization and process dead-letter
   channels yields ``failed_frac > 0``;
3. the metric names and units printed equal those in ``BENCHMARK.json``.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from kafka_streams_dead_letter_publishing_spark.operators.topology import route


def misroute(df, cfg):
    routed = route(df, cfg)
    return routed._replace(process_dlt=routed.deser_dlt, deser_dlt=routed.process_dlt)


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    with open(run.ROOT / "BENCHMARK.json") as fh:
        declared = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    check(
        sorted(w["name"] for w in declared["workloads"]) == sorted(run.WORKLOADS),
        "BENCHMARK.json declares every workload",
    )

    work = str(run.WORK_ROOT / f"selftest-{os.getpid()}")
    spark = run.start_session(work, run.session_cores())
    try:
        for k, name in enumerate(sorted(run.WORKLOADS)):
            for trace in (False, True):
                sub = os.path.join(work, f"{name}-{int(trace)}")
                res = run.run_workload(spark, sub, name, k + 1, 1.0, trace, scale=run.TINY)
                check(
                    res.attempted > 0 and res.failed == 0,
                    f"{name} trace={int(trace)}: {res.failed}/{res.attempted} failed {res.reasons}",
                )
                want = declared_layer if trace else declared_e2e
                check(res.units == want, f"{name} trace={int(trace)}: metric names and units")
                check(
                    all(isinstance(v, float) for v in res.metrics.values()),
                    f"{name} trace={int(trace)}: every metric is a number",
                )
                shutil.rmtree(sub, ignore_errors=True)
        sub = os.path.join(work, "misroute")
        res = run.run_workload(
            spark, sub, "dlt-drain-poison", 9, 1.0, False, scale=run.TINY, topology=misroute
        )
        check(
            res.failed > 0,
            f"misrouting topology: failed_frac {res.failed / res.attempted:.3f} {res.reasons}",
        )
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
