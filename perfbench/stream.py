"""Open-loop workload ``stream_ingest``: a fixed-rate file stream into the
continuous 1-minute rollup.

A generator thread writes one parquet file of ``EVENTS_PER_FILE`` events
every ``FILE_EVERY_S`` seconds on a fixed schedule that does not slow
when the stream does. Event ``ts`` values are the file's scheduled time
on a virtual clock that starts where the history ends, so the inputs
depend only on the seed. A file-source stream reads the directory and
``stream_to_warehouse`` hands every micro-batch to a wrapper around
``refresh_minute_rollup``, which merges it into the rollup lake and
swaps the whole lake. The lake is seeded with the generated history
first, so every commit rewrites a realistic amount of state.

Freshness of a file is the end of the commit of the micro-batch that
read it minus the file's scheduled time. Which batch read which file
comes from the checkpoint's file-source log after the run. A batch's
commit rate is its events over the wall time of the wrapped writer
call; the offered rate does not enter it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle

# One month of history, about 80 k zone-minute rows in the seeded lake.
HISTORY_EVENTS = 100_000
# 2 000 events/s offered as one file every 2.5 s: a commit takes about
# 1.7 s on 4 cores, so each file is normally committed alone and
# freshness measures the commit path rather than a queue at the edge of
# saturation. At a 2 s interval batches often took two files and
# freshness spread 0.39 (quartile distance over median, five seeds).
EVENTS_PER_FILE = 5_000
FILE_EVERY_S = 2.5
# Scheduled stream time dropped before the measured window; its files
# still count in the final rollup check.
WARM_S = 3.0
# Direct merges into a scratch copy of the seeded lake before the stream
# starts, so the first measured commits do not pay for compiling the
# merge path.
WARM_MERGES = 3
DRAIN_TIMEOUT_S = 60.0


class Generator(threading.Thread):
    """Writes file ``i`` at ``t0 + i * FILE_EVERY_S`` for ``stop_after``
    seconds of schedule, and ends when that schedule does."""

    def __init__(self, inbox: str, seed: int, t0: float, stop_after: float):
        super().__init__(daemon=True)
        self.inbox, self.seed, self.t0, self.stop_after = inbox, seed, t0, stop_after
        self.files: list[dict] = []  # path, due, written, n
        self.error: BaseException | None = None

    def run(self) -> None:
        origin = np.datetime64(gen.stream_clock_origin(), "us").astype(np.int64)
        step_us = int(FILE_EVERY_S * 1e6)
        try:
            for i in range(math.ceil(self.stop_after / FILE_EVERY_S)):
                due = self.t0 + i * FILE_EVERY_S
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                rng = np.random.default_rng([self.seed, 1_000_000 + i])
                ts = origin + i * step_us + np.sort(rng.integers(0, step_us, EVENTS_PER_FILE))
                table = gen.event_batch(rng, HISTORY_EVENTS + i * EVENTS_PER_FILE, ts)
                path = os.path.join(self.inbox, f"part-{i:06d}.parquet")
                tmp = os.path.join(self.inbox, f".tmp-{i:06d}.parquet")  # hidden from the source
                pq.write_table(table, tmp)
                os.rename(tmp, path)
                self.files.append(
                    {"path": path, "due": due, "written": time.perf_counter(), "n": EVENTS_PER_FILE}
                )
            time.sleep(max(0.0, self.t0 + self.stop_after - time.perf_counter()))
        except BaseException as ex:  # reported by the workload after join
            self.error = ex


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File path -> batch id, from the file-source log (delta files and
    the ``.compact`` files that fold earlier deltas in)."""
    log = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log) if os.path.isdir(log) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f.read().splitlines()[1:]:  # first line is the version
                entry = json.loads(line)
                out[entry["path"].removeprefix("file://")] = entry["batchId"]
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def run_stream(run) -> None:
    from smart_city_data_pipeline_spark.catalog import table
    from smart_city_data_pipeline_spark.streaming.cont_agg import (
        read_minute_rollup,
        refresh_minute_rollup,
    )
    from smart_city_data_pipeline_spark.streaming.warehouse_sink import stream_to_warehouse

    tr = run.tracer
    data = os.path.join(run.work, "data")
    inbox = os.path.join(run.work, "inbox")
    lake = os.path.join(run.work, "lake")
    checkpoint = os.path.join(run.work, "checkpoint")
    os.makedirs(inbox)
    with tr.span("bench.gen"):
        history = gen.write_tables(data, run.seed, {"events": HISTORY_EVENTS})["events"]
    run.start_session()
    spark = run.spark
    hist = table(spark, data, "events")
    with tr.span("streaming.seed"):
        # Batch id -1 sits below every stream batch id.
        refresh_minute_rollup(spark, lake, hist, -1)
    with tr.span("streaming.warm"):
        warm_lake = os.path.join(run.work, "warm-lake")
        warm_src = os.path.join(run.work, "warm-src")
        os.makedirs(warm_src)
        rng = np.random.default_rng([run.seed, 999_999])
        origin = np.datetime64(gen.stream_clock_origin(), "us").astype(np.int64)
        pq.write_table(
            gen.event_batch(rng, 0, origin + np.sort(rng.integers(0, 10**6, EVENTS_PER_FILE))),
            os.path.join(warm_src, "warm.parquet"),
        )
        shutil.copytree(lake, warm_lake)
        for bid in range(WARM_MERGES):
            refresh_minute_rollup(spark, warm_lake, spark.read.schema(hist.schema).parquet(warm_src), bid)

    batches: list[dict] = []

    def writer(df, batch_id: int) -> None:
        rec = {"id": batch_id, "start": time.perf_counter()}
        try:
            with tr.span("streaming.batch") as srec:
                refresh_minute_rollup(df.sparkSession, lake, df, batch_id)
                srec["batch_id"] = batch_id
        except Exception:
            traceback.print_exc()
            rec["failed"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            if tr.enabled:
                rec["lake_bytes"] = _dir_bytes(lake)
            batches.append(rec)

    stream = spark.readStream.schema(hist.schema).parquet(inbox)
    t0 = time.perf_counter() + 0.5
    producer = Generator(inbox, run.seed, t0, WARM_S + run.seconds)
    query = stream_to_warehouse(stream, writer, checkpoint, available_now=False)
    producer.start()
    time.sleep(max(0.0, t0 + WARM_S - time.perf_counter()))
    run.begin_window()
    producer.join()
    run.end_window()

    # Drain: every generated file committed, or the stream failed.
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    expected = {f["path"] for f in producer.files}
    drained = False
    while query.isActive and time.perf_counter() < deadline:
        done = {b["id"] for b in batches if not b.get("failed")}
        mapping = _file_batches(checkpoint)
        if all(mapping.get(p) in done for p in expected):
            drained = True
            break
        time.sleep(0.1)
    stream_error = query.exception()
    query.stop()

    run.attempted += len(batches) + 1
    run.failed += sum(1 for b in batches if b.get("failed"))
    if not drained or stream_error is not None or producer.error is not None:
        run.failed += 1
        print(f"stream_ingest: drained={drained} error={stream_error} gen={producer.error}")

    with tr.span("bench.check"):
        files = [history] + sorted(expected)
        run.record_check("minute_rollup", oracle.check_rollup(read_minute_rollup(spark, lake), files))

    _report(run, producer, batches, _file_batches(checkpoint), query)


def _report(run, producer, batches, mapping, query) -> None:
    ok = {b["id"]: b for b in batches if not b.get("failed")}
    w0, w1 = run.window_start, run.window_end
    window = [f for f in producer.files if w0 <= f["due"] < w1]
    # A file the stream never committed has no freshness; the drain
    # check has already counted it as a failure.
    committed = [f for f in window if mapping.get(f["path"]) in ok]
    fresh = [ok[mapping[f["path"]]]["end"] - f["due"] for f in committed]
    events = sum(f["n"] for f in committed)
    # Commit rate: events per second of commit work, batch by batch.
    # The offered rate sets how many events arrive, not how fast a
    # commit runs, so this follows the write path alone.
    per_batch: dict[int, int] = {}
    for f in producer.files:
        bid = mapping.get(f["path"])
        if bid in ok:
            per_batch[bid] = per_batch.get(bid, 0) + f["n"]
    rates = [
        per_batch[bid] / (ok[bid]["end"] - ok[bid]["start"])
        for bid in sorted({mapping[f["path"]] for f in committed})
    ]
    commit_eps = statistics.median(rates) if rates else 0.0
    if committed:
        run.latency("freshness", fresh)
        eps = events / (max(ok[mapping[f["path"]]]["end"] for f in committed) - w0)
        run.metric("ingest_eps", eps, "1/s", events)
    run.metric("commit_eps", commit_eps, "1/s", len(rates))
    run.lines.append("samples commit_eps " + " ".join(f"{r:.1f}" for r in rates))
    run.e2e["latency_p50_s"] = (
        "freshness_p50_s",
        statistics.median(fresh) if fresh else float("nan"),
        "s",
        len(fresh),
    )
    run.e2e["throughput_per_s"] = ("commit_eps", commit_eps, "1/s", len(rates))
    run.e2e["cpu_per_op_s"] = ("cpu_per_file_s", run.window_cpu / max(1, len(window)), "s", len(window))
    if not run.tracer.enabled:
        return
    end_of = {bid: b["end"] for bid, b in ok.items()}

    in_window = [b for b in batches if w0 <= b["start"] < w1]
    n = len(in_window)
    walls = [b["end"] - b["start"] for b in in_window]
    files_per: dict[int, int] = {}
    for bid in mapping.values():
        files_per[bid] = files_per.get(bid, 0) + 1
    run.layer("streaming.batch_p50_s", statistics.median(walls), "s", n)
    run.layer("streaming.busy_frac", sum(walls) / (w1 - w0), "1", n)
    run.layer("streaming.batches", n, "count", n)
    run.layer(
        "streaming.files_per_batch_p50",
        statistics.median(files_per.get(b["id"], 0) for b in in_window),
        "count",
        n,
    )
    ids = {b["id"] for b in in_window}
    overhead = [
        (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1e3
        for p in query.recentProgress
        if p["batchId"] in ids and "triggerExecution" in p["durationMs"]
    ]
    run.layer(
        "streaming.trigger_overhead_p50_s",
        statistics.median(overhead) if overhead else 0.0,
        "s",
        len(overhead),
    )
    # Backlog at each batch start: files written but not yet committed.
    backlog = []
    for b in in_window:
        written = sum(1 for f in producer.files if f["written"] <= b["start"])
        committed = sum(1 for bid in mapping.values() if end_of.get(bid, 1e18) <= b["start"])
        backlog.append(written - committed)
    run.layer("streaming.backlog_files_max", max(backlog), "count", n)
    lake = os.path.join(run.work, "lake")
    rows = sum(pq.read_metadata(os.path.join(lake, f)).num_rows for f in os.listdir(lake) if f.endswith(".parquet"))
    run.layer("sources.rollup_rows", rows, "count", 1)
    run.layer(
        "sources.rollup_bytes_per_batch",
        statistics.median(b["lake_bytes"] for b in in_window) / 2**20,
        "MB",
        n,
    )
    run.layer("gen.late_max_s", max(f["written"] - f["due"] for f in producer.files), "s", len(producer.files))
