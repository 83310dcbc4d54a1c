#!/usr/bin/env python3
"""Benchmark for the CDC engine: one command, two workloads.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 24 --trace 0

``--trace 0`` measures the end-to-end metrics with the engine
untouched.  ``--trace 1`` installs the layer wrappers and the event log
(tracing.py) and reports the per-layer metrics instead.  The first stdout
line is the host fingerprint; the last is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

A run whose correctness gate fails prints ``"correct": false`` and
exits 1.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

sys.path.insert(0, common.REPO_ROOT)

WORKLOADS = ("cdc_stream", "query_suite")

END_TO_END = [
    ("setup_s", "s"),
    ("latency_s", "s"),
    ("throughput_per_s", "1/s"),
    ("read_s", "s"),
]


def per_layer_metrics() -> list[tuple[str, str]]:
    import query_suite
    import tracing

    spans = [
        ("pipeline.apply_batch_s", "s"), ("pipeline.self_s", "s"),
        ("pipeline.probe_s", "s"),
        ("merge.merge_into_s", "s"), ("merge.buckets", "count"),
        ("scd2.apply_history_s", "s"), ("scd2.changed_docs", "count"),
        ("table.commit_s", "s"), ("table.commits", "count"),
        ("table.compact_s", "s"), ("table.fold_s", "s"),
        ("table.compacted_buckets", "count"),
        ("table.metadata_bytes", "B"), ("table.data_bytes", "B"),
        ("table.delta_files", "count"), ("table.delta_bytes", "B"),
        ("table.bytes_per_event", "B"), ("table.read_s", "s"),
        ("stream.trigger_overhead_s", "s"), ("stream.pickup_wait_s", "s"),
        ("stream.generator_lag_s", "s"), ("stream.backlog_max", "count"),
        ("stream.freshness_p50_s", "s"), ("stream.freshness_max_s", "s"),
        ("stream.batch_wall_p50_s", "s"), ("stream.batches", "count"),
        ("stream.events", "count"),
        ("read.current_s", "s"), ("read.lookup_s", "s"),
        ("read.lookup_max_s", "s"), ("read.as_of_s", "s"),
        ("read.time_travel_s", "s"), ("read.maintenance_s", "s"),
        ("read.current_compacted_s", "s"), ("read.as_of_folded_s", "s"),
        ("mem.peak_rss_mb", "MB"),
    ]
    queries = [(f"query.{q}_s", "s") for q in query_suite.QUERIES]
    queries.append(("query.passes", "count"))
    traced = [(f"traced.{n}", u) for n, u in END_TO_END if n != "setup_s"]
    return spans + queries + tracing.per_layer_names() + traced


def _result(correct, attempted, failed, values, names) -> str:
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names
    }
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import __spark_entry__  # noqa: F401
        import data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {common.REPO_ROOT}: {e}",
              file=sys.stderr)
        return 2

    import importlib

    workload = importlib.import_module(args.workload)
    scratch = common.make_scratch()
    eventlog = os.path.join(scratch, "eventlog") if args.trace else None
    spark = None
    try:
        print(json.dumps({"host": common.host_fingerprint()}), flush=True)
        cpu0 = common.cpu_times()
        setup_clock = common.Clock()
        spark = common.start_session(scratch, eventlog)
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracer.install()
        rss = common.RssSampler(common.jvm_pid()) if tracer else nullcontext()
        with rss:
            res = workload.run(spark, scratch, args.seed, args.seconds, tracer,
                               setup_clock)
        values = dict(res["e2e"])
        if tracer is not None:
            tracer.uninstall()
            values = {f"traced.{k}": v for k, v in res["e2e"].items()}
            values["mem.peak_rss_mb"] = rss.peak / 2**20
            values.update(res["layer"])
            values.update(tracer.span_metrics())
        common.stop_session(spark)
        spark = None
        if eventlog is not None:
            import tracing

            values.update(tracing.executor_metrics(eventlog, res["window"]))
    except Exception:  # noqa: BLE001 — a crashed run prints no result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            common.stop_session(spark)
        common.remove_scratch(scratch)

    for err in res["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    correct = res["failed"] == 0
    # a degraded shared-host window shows here, next to the numbers
    print(json.dumps({"host_steal_share": common.steal_share(cpu0)}),
          flush=True)
    names = per_layer_metrics() if args.trace else END_TO_END
    print(_result(correct, res["attempted"], res["failed"], values, names),
          flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
