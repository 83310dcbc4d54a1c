"""Workload ``cdc_stream``: an open-loop change stream into the lake,
then reads and maintenance on the table it built.

Set-up synthesizes one seeded change log (``cdc.synth``), splits it
into one preload file and a trickle of small files, starts
``run_stream`` and lets it apply the preload file (the cold batch that
brings up codegen and the Python workers), then warms the read path.

Measured window, part 1 (open loop): a generator thread moves one
trickle file into the stream's source directory every ``INTERVAL_S``
seconds, on a fixed schedule, while ``run_stream`` (file source,
``maxFilesPerTrigger=1``, checkpointed, stopped by
``stop_after_batches``) applies them through ``CdcPipeline``.  The
rate is below capacity in a normal host window.  Freshness of a file
is the time from its due time to the end of its foreachBatch; its apply
latency leaves out the wait behind the batch before it.

Measured window, part 2 (one reader, one round): the current state, a
bucket-pruned ``doc_id`` lookup, ``as_of`` on the history table and a
time-travel ``read(version=…)``, all on the unfolded delta lane the
stream left behind.

Measured window, part 3 (maintenance): the reader compacts the target
(``LakeTable.compact``, every bucket that has delta files) and folds the
history lane (``LakeTable.fold_delta_lane``), then reads the current
state and ``as_of`` again on the maintained tables.

Every stream result and every read result is checked against the
pandas oracle (``cdc.oracle``) after the window.
"""

from __future__ import annotations

import glob
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from common import Clock, median

# -- shape -------------------------------------------------------------
N_BUCKETS = 4
COMPACT_EVERY = 4
EVENTS_PER_FILE = 1500        # one trickle file ≈ one small producer segment
PRELOAD_FILES = 1             # the cold batch, applied during set-up
INTERVAL_S = 6.0              # open-loop schedule: one file per interval
LEAD_S = 0.5                  # first file is due this long after start
LOOKUPS = 1
EVENTS_PER_DOC = 13.8         # synth mean incl. hot keys (5–20 × hot mult.)


def stream_files(seconds: float) -> int:
    """Files the open loop offers: one per interval of --seconds, and at
    least three.  The read phase comes on top (about 12 s)."""
    return max(3, round(seconds / INTERVAL_S))


TAG_SETUP, TAG_READ = "setup", "table_read"


def _pipeline(spark, base):
    from data_pipeline_spark.cdc.pipeline import CdcPipeline

    return CdcPipeline(
        spark, base, n_buckets=N_BUCKETS, salt_buckets=8,
        enable_history=True, compact_every=COMPACT_EVERY,
        lineage_mode="observed",
    )


class _Recorder:
    """Timestamps each ``apply_batch`` call of one pipeline object (the
    foreachBatch body) and the target version it left behind; calls
    ``on_batch(n)`` after the n-th."""

    def __init__(self, pipe, clock: Clock):
        self.rows: list[dict] = []
        self.on_batch = lambda n: None
        inner = pipe.apply_batch

        def apply_batch(df, batch_id):
            s = clock.now()
            try:
                return inner(df, batch_id)
            finally:
                self.rows.append({"batch_id": batch_id, "start": s,
                                  "end": clock.now(),
                                  "version": pipe.target.version})
                self.on_batch(len(self.rows))

        pipe.apply_batch = apply_batch


def run(spark, scratch: str, seed: int, seconds: float, tracer, setup_clock):
    from data_pipeline_spark.cdc.oracle import (
        assert_tokens_equal, expected_final_state, expected_history,
    )
    from data_pipeline_spark.cdc.scd2 import as_of
    from data_pipeline_spark.cdc.stream import run_stream
    from data_pipeline_spark.cdc.synth import generate_change_log
    from data_pipeline_spark.table.laketable import LakeTable, bucket_expr
    from pyspark.sql import functions as F

    def tag(t):
        if tracer is not None:
            tracer.tag(t)

    tag(TAG_SETUP)
    n_stream = stream_files(seconds)
    n_files = PRELOAD_FILES + n_stream
    n_docs = int(EVENTS_PER_FILE * n_files / EVENTS_PER_DOC)
    log_dir = os.path.join(scratch, "log")
    generate_change_log(log_dir, n_docs=n_docs, seed=seed, n_partitions=8,
                        n_files=n_files, min_tok=16, max_tok=96)
    files = sorted(glob.glob(os.path.join(log_dir, "*.parquet")))
    # the log read once, as cdc.oracle.load_log reads it: the oracle's
    # input, and what the reader will ask for, fixed before the window.
    # Rows come in file order; head(ends[k]) is the log of files 0..k.
    log_all = ds.dataset(files).to_table().to_pandas()
    ends = np.cumsum([pq.ParquetFile(f).metadata.num_rows for f in files])
    ev = log_all[log_all["op"] != "SCHEMA"]
    rng = np.random.default_rng(seed)
    lookup_ids = [str(x) for x in rng.choice(np.sort(ev["doc_id"].unique()),
                                             LOOKUPS, replace=False)]
    buckets: dict[str, int] = {}
    ts_asof = pd.Timestamp(ev["ingest_ts"].quantile(0.5)).floor("s")
    src = os.path.join(scratch, "source")
    os.makedirs(src)
    for f in files[:PRELOAD_FILES]:
        os.rename(f, os.path.join(src, os.path.basename(f)))
    stage = files[PRELOAD_FILES:]

    pipe = _pipeline(spark, os.path.join(scratch, "lake"))
    ckpt = os.path.join(scratch, "checkpoint")
    clock = Clock()
    rec = _Recorder(pipe, clock)
    preloaded = threading.Event()
    rec.on_batch = lambda n: n == PRELOAD_FILES and preloaded.set()
    window: dict = {}
    due: list[float] = []
    moved: list[float] = []

    def generator():
        # set-up, continued: once the preload is applied, warm the read
        # path (codegen for the resolve and as_of plans) through a
        # reader's own handles; the query stays up, so the window has
        # no restart
        preloaded.wait()
        if window.get("abort"):
            return
        tag(TAG_SETUP)
        buckets.update(
            (r["doc_id"], r["b"])
            for r in spark.createDataFrame([(i,) for i in lookup_ids],
                                           "doc_id string")
            .select("doc_id", bucket_expr("doc_id", N_BUCKETS).alias("b"))
            .collect()
        )
        LakeTable.load(spark, pipe.target.path).read().count()
        as_of(LakeTable.load(spark, pipe.history.path).read(),
              "2024-01-01 00:00:00").count()
        tag(None)
        if tracer is not None:
            tracer.reset()
        window["setup_s"] = setup_clock.now()
        window["epoch"] = time.time()
        window["t0"] = t0 = clock.now()
        due.extend(t0 + LEAD_S + i * INTERVAL_S for i in range(n_stream))
        # part 1: open loop — one file per interval, on schedule
        for f, d in zip(stage, due):
            wait = d - clock.now()
            if wait > 0:
                time.sleep(wait)
            now = time.time()
            os.utime(f, (now, now))
            os.rename(f, os.path.join(src, os.path.basename(f)))
            moved.append(clock.now())

    def generator_or_drain():
        try:
            generator()
        except Exception as e:  # noqa: BLE001 — reported after the stream
            window["generator_error"] = e
            # the stream stops only after its last batch: hand it the
            # remaining files rather than leave it waiting for them
            for f in stage[len(moved):]:
                os.rename(f, os.path.join(src, os.path.basename(f)))

    gen = threading.Thread(target=generator_or_drain, daemon=True)
    gen.start()
    stream_error = None
    try:
        run_stream(spark, src, pipe, ckpt, max_files_per_trigger=1,
                   available_now=False,
                   stop_after_batches=PRELOAD_FILES + n_stream)
    except Exception as e:  # noqa: BLE001 — counted as failed batches
        stream_error = e
    finally:
        window.setdefault("abort", not preloaded.is_set())
        preloaded.set()
    gen.join()
    del pipe.apply_batch
    if "generator_error" in window:
        raise RuntimeError(f"generator failed: {window['generator_error']!r}")
    if "t0" not in window:
        raise RuntimeError(f"stream failed during set-up: {stream_error!r}")
    setup_s = window["setup_s"]
    window_start_epoch = window["epoch"]
    batches = rec.rows[PRELOAD_FILES:]

    # ------------------------------------------------------------------
    # part 2: one read round on the table the stream built
    # ------------------------------------------------------------------
    log = log_all.head(ends[PRELOAD_FILES + len(batches) - 1])
    tt_idx = len(batches) // 2 if batches else None
    tt_version = batches[tt_idx]["version"] if batches else None

    cols = ["doc_id", "tokens", "n_tok", "source"]
    target = LakeTable.load(spark, pipe.target.path)
    history = LakeTable.load(spark, pipe.history.path)
    reads: dict[str, list[float]] = {
        "current": [], "lookup": [], "as_of": [], "time_travel": [],
        "current_compacted": [], "as_of_folded": [],
    }
    results: list[tuple[str, object, pd.DataFrame]] = []
    tag(TAG_READ)

    def timed(kind, arg, fn):
        s = time.perf_counter()
        out = fn()
        reads[kind].append(time.perf_counter() - s)
        results.append((kind, arg, out))

    r0 = time.perf_counter()
    timed("current", None, lambda: target.read().select(*cols).toPandas())
    for d in lookup_ids:
        timed("lookup", d, lambda d=d: target.read(buckets=[buckets[d]])
              .filter(F.col("doc_id") == d).select(*cols).toPandas())
    timed("as_of", ts_asof, lambda: as_of(history.read(), ts_asof)
          .select(*cols).toPandas())
    if tt_version is not None:
        timed("time_travel", tt_version,
              lambda: target.read(version=tt_version).select(*cols).toPandas())
    round_wall = time.perf_counter() - r0
    lane = _lane_stats(target, history)

    # part 3: maintenance, then the same reads on the maintained tables
    tag(None)
    m0 = time.perf_counter()
    compacted = target.compact(1)
    folded = history.fold_delta_lane()
    maint_s = time.perf_counter() - m0
    tag(TAG_READ)
    timed("current_compacted", None,
          lambda: target.read().select(*cols).toPandas())
    timed("as_of_folded", ts_asof, lambda: as_of(history.read(), ts_asof)
          .select(*cols).toPandas())
    window_end_epoch = time.time()
    tag(None)

    # ------------------------------------------------------------------
    # correctness gate (outside the timed window)
    # ------------------------------------------------------------------
    attempted = n_stream + 1 + len(results)
    failed = max(n_stream - len(batches), int(stream_error is not None))
    errors: list[str] = []
    if stream_error is not None:
        errors.append(f"stream: {stream_error!r}"[:300])
    final = expected_final_state(log)
    hist = expected_history(log)
    tt_expect = None
    if tt_idx is not None:
        tt_expect = expected_final_state(
            log_all.head(ends[PRELOAD_FILES + tt_idx])
        )
    t = ts_asof.as_unit("us").to_datetime64()
    vis = hist[(hist["valid_from_utc"] <= t) & (hist["valid_to_utc"] >= t)
               & (hist["op"] != "D")]
    asof_expect = vis[cols].sort_values("doc_id").reset_index(drop=True)
    if not compacted or not folded:
        failed += 1
        errors.append(f"maintenance had no victims: compacted={compacted} "
                      f"folded={folded}")
    for kind, arg, got in results:
        if kind in ("current", "current_compacted"):
            want = final
        elif kind == "lookup":
            want = final[final["doc_id"] == arg]
        elif kind in ("as_of", "as_of_folded"):
            want = asof_expect
        else:
            want = tt_expect
        try:
            assert_tokens_equal(got, want)
        except AssertionError as e:
            failed += 1
            errors.append(f"{kind}({arg}): {e}"[:300])

    # ------------------------------------------------------------------
    # metrics
    # ------------------------------------------------------------------
    fresh = [b["end"] - due[i] for i, b in enumerate(batches)]
    # apply latency: from the moment a file could be applied (it had
    # landed and the batch before it was done) to the end of its
    # foreachBatch.  Freshness adds the queueing behind a slow earlier
    # batch, which on a shared host swings with the host's speed far
    # more than the engine's cost does.
    ready = [max(moved[i], batches[i - 1]["end"] if i else 0.0)
             for i in range(len(batches))]
    applied = [b["end"] - r for b, r in zip(batches, ready)]
    walls = [b["end"] - b["start"] for b in batches]
    events = [int(ends[PRELOAD_FILES + i] - ends[PRELOAD_FILES + i - 1])
              for i in range(len(batches))]
    e2e = {
        "setup_s": setup_s,
        "latency_s": median(applied),
        "throughput_per_s": sum(events) / sum(walls) if walls else 0.0,
        "read_s": round_wall,
    }
    layer = _stream_layer(batches, due, moved)
    layer.update(
        {
            "stream.freshness_p50_s": median(fresh),
            "stream.freshness_max_s": max(fresh, default=0.0),
            "stream.batch_wall_p50_s": median(walls),
            "stream.batches": len(batches),
            "stream.events": sum(events),
            "read.current_s": median(reads["current"]),
            "read.lookup_s": median(reads["lookup"]),
            "read.lookup_max_s": max(reads["lookup"], default=0.0),
            "read.as_of_s": median(reads["as_of"]),
            "read.time_travel_s": median(reads["time_travel"]),
            "read.current_compacted_s": median(reads["current_compacted"]),
            "read.as_of_folded_s": median(reads["as_of_folded"]),
            "read.maintenance_s": maint_s,
            "table.read_s": sum(sum(v) for v in reads.values()),
        }
    )
    layer.update(lane)
    layer.update(_table_layer(pipe, batches, sum(events)))
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": e2e,
        "layer": layer,
        "window": (window_start_epoch, window_end_epoch),
    }


def _stream_layer(batches, due, moved) -> dict:
    """Trigger-loop numbers from the batch timestamps alone.

    pickup wait   file landed → its foreachBatch started
    trigger overhead   the part of that wait the stream itself adds:
                  start − max(file landed, previous batch ended)
    generator lag how late the generator moved a file
    backlog       files landed and waiting behind the one picked up
    """
    pickup, overhead, backlog = [], [], []
    prev_end = 0.0
    for i, b in enumerate(batches):
        landed = moved[i] if i < len(moved) else b["start"]
        pickup.append(b["start"] - landed)
        overhead.append(b["start"] - max(landed, prev_end))
        backlog.append(sum(1 for m in moved if m <= b["start"]) - i - 1)
        prev_end = b["end"]
    lag = [m - d for m, d in zip(moved, due)]
    return {
        "stream.trigger_overhead_s": median(overhead),
        "stream.pickup_wait_s": median(pickup),
        "stream.generator_lag_s": max(lag, default=0.0),
        "stream.backlog_max": max(backlog, default=0),
    }


def _table_layer(pipe, batches, n_events: int) -> dict:
    """Storage footprint, stat'd from outside the engine."""
    tables = [pipe.target, pipe.history, pipe.lineage, pipe.dead_letter]
    meta = data = 0
    for t in tables:
        for root, _, fs in os.walk(t.path):
            n = sum(os.path.getsize(os.path.join(root, f)) for f in fs)
            if os.sep + "metadata" in root[len(t.path):] + os.sep:
                meta += n
            else:
                data += n
    phases = pipe.phase_times[-len(batches):] if batches else []
    written = sum(p.get("bytes_written", 0) for p in phases)
    return {
        "pipeline.probe_s": sum(p.get("probe", 0.0) for p in phases),
        "table.metadata_bytes": meta,
        "table.data_bytes": data,
        "table.bytes_per_event": written / n_events if n_events else 0.0,
    }


def _lane_stats(*tables) -> dict:
    """Delta-lane size the reader saw, from the manifests."""
    files = nbytes = 0
    for t in tables:
        t.refresh()
        files += sum(t.delta_stats().values())
        nbytes += sum(t.delta_bytes().values())
    return {"table.delta_files": files, "table.delta_bytes": nbytes}
