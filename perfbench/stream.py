"""Stream workloads over the native shard-log reader.

``runtime.consume()`` hard-wires the parquet staging reader, so these
workloads compose the two public calls it makes after its source,
``runtime.filtered_stream`` and ``runtime.start_dispatch``, over the
``dks_kinesis`` stream reader (``sources/pyds.py``).  The handler
collects ``(shardId, sequenceNumber, due time)`` of every dispatched
row; the run is correct when the dispatched set equals the generated
records that pass ``functions.filters.payload_filters_py`` under the
same config.  Redelivered rows are allowed (at-least-once) and counted.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime

from layers import JobLedger, pct
from streamgen import ShardWriter, records

#: records per second written by the open-loop generator: a quarter of
#: the 8000/s this pipeline has sustained on 4 cores, so the backlog
#: stays flat
RATE = 2000
#: untimed warm-up after the first micro-batch, which pays ~5 s of
#: one-off planning and worker start-up: the batches after it drain the
#: backlog it left and speed up for about ten more batches
WARM_S = 8.0
#: generator lateness (p99) past which the run did not get its input rate
LATE_S = 0.1


def queue_config():
    """AND-ed payload filters of mixed verbs; about a third of the
    generated records pass."""
    from decisions_kinesis_spark.config import FilterVerb, KinesisQueueConfig, PayloadFilter

    return KinesisQueueConfig(
        stream_name="perfbench",
        payload_filters=[
            PayloadFilter("user.tier", FilterVerb.NOT_EQUALS_CI, "bronze"),
            PayloadFilter("amount", FilterVerb.GREATER_THAN_OR_EQUAL, "500"),
            PayloadFilter("sku", FilterVerb.STARTS_WITH, "SKU-"),
        ],
    )


class Ledger:
    """What the handler saw: the epoch of every handler entry, one call
    record per completed invocation and one row per dispatched record."""

    def __init__(self):
        self.rows: list[tuple[str, str, int, float]] = []
        self.calls: list[tuple[int, float, float, int]] = []
        #: taken before the collect, so a retried epoch appears twice
        self.entries: list[int] = []

    def handler(self, batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        self.entries.append(epoch_id)
        t0 = time.time()
        got = batch_df.select(
            "shardId", "sequenceNumber",
            F.unix_micros("approximateArrivalTimestamp"),
        ).collect()
        t1 = time.time()
        self.calls.append((epoch_id, t0, t1, len(got)))
        self.rows.extend((r[0], r[1], r[2], t1) for r in got)

    def first_seen(self) -> dict[tuple[str, str], tuple[int, float]]:
        out: dict[tuple[str, str], tuple[int, float]] = {}
        for shard, seq, due_us, t in self.rows:
            out.setdefault((shard, seq), (due_us, t))
        return out


def expected_passing(log_dir: str, config) -> tuple[set[tuple[str, str]], int]:
    """Keys of logged records that pass the reference filter model, and
    the number of records logged."""
    from decisions_kinesis_spark.functions.filters import payload_filters_py

    want: set[tuple[str, str]] = set()
    total = 0
    for name in sorted(os.listdir(log_dir)):
        if not name.endswith(".jsonl"):
            continue
        stem = name[: -len(".jsonl")]
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for idx, line in enumerate(f):
                total += 1
                data = json.loads(line)["data"]
                if payload_filters_py(data, config.payload_filters, config.use_or):
                    want.add((stem, "%020d" % idx))
    return want, total


def _check(ctx, ledger: Ledger, want: set) -> int:
    """Missing plus extra records of one dispatch against ``want``."""
    got = set(ledger.first_seen())
    missing, extra = want - got, got - want
    if missing or extra:
        ctx.log(f"ledger: {len(missing)} missing, {len(extra)} extra, "
                f"e.g. {sorted(missing)[:2]} {sorted(extra)[:2]}")
    return len(missing) + len(extra)


def _start(spark, log_dir: str, ckpt: str, ledger: Ledger, config, available_now=False):
    from decisions_kinesis_spark.sources.pyds import register
    from decisions_kinesis_spark.streaming import runtime

    register(spark)
    t0 = time.perf_counter()
    src = (
        spark.readStream.format("dks_kinesis")
        .option("path", log_dir)
        .option("streamName", config.stream_name)
        .load()
    )
    stream = runtime.filtered_stream(src, config)
    build_s = time.perf_counter() - t0
    q = runtime.start_dispatch(
        stream, ledger.handler, ckpt, config=config, available_now=available_now
    )
    return q, build_s


def _watch(q, seconds: float) -> None:
    """Sleep ``seconds``, raising as soon as the stream has failed."""
    end = time.perf_counter() + seconds
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        left = end - time.perf_counter()
        if left <= 0:
            return
        time.sleep(min(left, 0.25))


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _end_offsets(p: dict) -> int:
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return sum((end or {}).values())


def run_steady(ctx, seed: int, seconds: float, trace: bool) -> dict:
    log_dir = ctx.scratch("steady-logs")
    ckpt = ctx.scratch("steady-ckpt")
    stats_path = os.path.join(os.path.dirname(log_dir), "steady-gen.json")
    config = queue_config()
    ledger = Ledger()

    t0 = time.perf_counter()
    spark = ctx.start_session(trace)
    session_s = time.perf_counter() - t0

    gen = q = None
    t_q = time.perf_counter()
    gen_start = time.time() + 0.2
    try:
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "streamgen.py"),
             "--out", log_dir, "--rate", str(RATE), "--seed", str(seed),
             "--start", repr(gen_start), "--stats", stats_path],
        )
        q, build_s = _start(spark, log_dir, ckpt, ledger, config)
        while not ledger.calls:
            _watch(q, 0.01)
        ctx.log(f"stream built in {build_s:.2f}s; first micro-batch done")
        _watch(q, WARM_S)
        setup_s = session_s + (time.perf_counter() - t_q)
        ctx.log(f"warm after {len(ledger.calls)} batches; measuring")
        t_warm = time.time()
        jobs = JobLedger(spark) if trace else None
        if trace:  # an untraced half, then the traced half
            _watch(q, seconds / 2)
            t_mid = time.time()
            j0 = jobs.mark()
            _watch(q, seconds / 2)
        else:
            _watch(q, seconds)
        t_end = time.time()
        j1 = jobs.mark() if trace else 0
        gen.send_signal(signal.SIGTERM)
        gen.wait(timeout=60)
        with open(stats_path, encoding="utf-8") as f:
            gen_stats = json.load(f)
        if gen_stats["lateness_p99_s"] > LATE_S:
            ctx.log(f"INVALID RUN: generator ran {gen_stats['lateness_p99_s']:.3f}s late "
                    f"at p99, so the input rate was not the stated {RATE}/s")
        # everything logged is consumed before the ledger is checked
        written = gen_stats["written"]
        deadline = time.time() + 60
        while time.time() < deadline:
            prog = q.lastProgress
            if prog is not None and _end_offsets(json.loads(prog.json)) >= written:
                break
            time.sleep(0.05)
        progress = _progress(q)
        ctx.log("generator stopped, backlog drained")
    finally:
        if q is not None:
            q.stop()
        if gen is not None:
            if gen.poll() is None:
                gen.kill()
            gen.wait()

    want, total = expected_passing(log_dir, config)
    failed = _check(ctx, ledger, want)
    seen = ledger.first_seen()
    ctx.log(f"ledger checked: {total} records, {len(seen)} dispatched")

    def latencies(lo: float, hi: float) -> list[float]:
        return [t - due / 1e6 for due, t in seen.values() if lo <= due / 1e6 < hi]

    window = latencies(t_warm, t_end)
    out = {"samples": len(window), "attempted": total, "failed": failed}
    if trace:
        base = latencies(t_warm, t_mid)
        traced = latencies(t_mid, t_end)
        if not (base and traced):
            out["samples"] = 0
    if not out["samples"]:
        return out
    # records due in the window that the handler also had by its end: a
    # consumer that falls behind reads lower, the backlog it drains after
    # the window does not count
    in_time = sum(1 for due, t in seen.values() if t_warm <= due / 1e6 < t_end and t <= t_end)
    metrics = out["metrics"] = {
        "setup_s": setup_s,
        "latency_mean_s": statistics.fmean(window),
        "latency_p90_s": pct(window, 90),
        "throughput_per_s": in_time / (t_end - t_warm),
        "heap_after_gc_mb": ctx.heap_after_gc_mb(),
    }
    if trace:
        metrics.update(_stream_layers(ctx, jobs, j0, j1, progress, ledger, t_warm,
                                      t_mid, t_end, gen_start, gen_stats, total, seen))
        metrics["trace.overhead_frac"] = statistics.fmean(traced) / statistics.fmean(base) - 1.0
        metrics["session.start_s"] = session_s
        metrics["operators.build_s"] = metrics["operators.build_py_s"] = build_s
    return out


def _ts(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _stream_layers(ctx, jobs, j0, j1, progress, ledger, warm, lo, hi, gen_start, gen_stats,
                   total, seen):
    """Per-batch layer numbers for batches triggered inside [lo, hi);
    addBatch growth over the whole measured window [warm, hi)."""
    batches = [p for p in progress if lo <= _ts(p) < hi and p["numInputRows"] > 0]
    for p in batches:
        ctx.spans.add("batch", _ts(p), _ts(p) + p["durationMs"]["triggerExecution"] / 1e3, 0,
                      batch=p["batchId"], rows=p["numInputRows"], **p["durationMs"])
    for epoch, t0, t1, n in ledger.calls:
        if lo <= t0 < hi:
            ctx.spans.add("handler", t0, t1, 0, batch=epoch, rows=n)
    n = max(1, len(batches))

    def med(key_fn):
        vals = [key_fn(p) for p in batches]
        return statistics.median(vals) if vals else 0.0

    d = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    # backlog after each batch: records due by its end minus records read
    samples = []
    for p in batches:
        end = _ts(p) + d(p, "triggerExecution") / 1e3
        samples.append((end, RATE * (end - gen_start) - _end_offsets(p)))
    growth = statistics.linear_regression(*zip(*samples)).slope if len(samples) > 1 else 0.0
    per_rec = [d(p, "addBatch") / p["numInputRows"]
               for p in progress if warm <= _ts(p) < hi and p["numInputRows"] > 0]
    q = max(1, len(per_rec) // 4)
    handler_ms = [(t1 - t0) * 1e3 for _, t0, t1, _ in ledger.calls if lo <= t0 < hi]
    distinct = len(seen)
    execd = jobs.stats(j0, j1)
    window = hi - lo
    return {
        "catalyst.plan_s": med(lambda p: d(p, "queryPlanning")) / 1e3,
        "exec.exec_s": med(lambda p: d(p, "addBatch")) / 1e3,
        "exec.jobs": execd.jobs / n,
        "exec.stages": execd.stages / n,
        "exec.tasks": execd.tasks / n,
        "exec.executor_s": execd.executor_s / n,
        "exec.occupancy": execd.executor_s / (window * ctx.cores),
        "exec.shuffle_write_bytes": execd.shuffle_write_bytes / n,
        "exec.spill_bytes": execd.spill_bytes / n,
        "exec.gc_s": execd.gc_s / n,
        "sources.pyds.latest_offset_ms": med(lambda p: d(p, "latestOffset")),
        "sources.pyds.backlog_records": statistics.median(b for _, b in samples) if samples else 0.0,
        "sources.pyds.backlog_growth_rps": growth,
        "streaming.plan_ms": med(lambda p: d(p, "queryPlanning") + d(p, "getBatch")),
        "streaming.wal_ms": med(lambda p: d(p, "walCommit") + d(p, "commitOffsets")),
        "streaming.batches": len(batches),
        "streaming.records_per_batch": sum(p["numInputRows"] for p in batches) / n,
        "streaming.runtime.add_batch_ms": med(lambda p: d(p, "addBatch")),
        "streaming.runtime.handler_ms": statistics.median(handler_ms) if handler_ms else 0.0,
        "streaming.runtime.retries": len(ledger.entries) - len(set(ledger.entries)),
        "streaming.runtime.duplicate_ratio": (len(ledger.rows) - distinct) / max(1, distinct),
        "streaming.add_batch_growth": (
            statistics.fmean(per_rec[-q:]) / statistics.fmean(per_rec[:q]) if per_rec else 0.0
        ),
        "functions.filters.pass_ratio": distinct / max(1, total),
        "generator.lateness_p99_s": gen_stats["lateness_p99_s"],
    }


def write_backlog(log_dir: str, seed: int, n: int) -> None:
    """``n`` seeded records, already due, spread over the shard logs."""
    writer = ShardWriter(log_dir)
    try:
        gen = records(seed)
        t0 = time.time() - 3600.0
        chunk = []
        for i in range(n):
            pk, data = next(gen)
            chunk.append((pk, data, t0 + i / RATE))
            if len(chunk) == 10_000:
                writer.write(chunk)
                chunk = []
        writer.write(chunk)
    finally:
        writer.close()


#: backlog drained per timed drain; one drain is one micro-batch
DRAIN_RECORDS = 60_000


def _drain(spark, log_dir: str, ckpt: str, config, ledger: Ledger) -> float:
    t0 = time.perf_counter()
    q, _ = _start(spark, log_dir, ckpt, ledger, config, available_now=True)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"drain failed: {q.exception()}")
    return time.perf_counter() - t0


def run_drain(ctx, seed: int, seconds: float, trace: bool) -> dict:
    log_dir = ctx.scratch("drain-logs")
    warm_dir = ctx.scratch("drain-warm-logs")
    write_backlog(log_dir, seed, DRAIN_RECORDS)
    write_backlog(warm_dir, seed + 1, DRAIN_RECORDS // 10)
    config = queue_config()
    want, total = expected_passing(log_dir, config)

    def session_and_warm(master=None) -> tuple[float, float]:
        t0 = time.perf_counter()
        spark = ctx.start_session(trace, master=master)
        session_s = time.perf_counter() - t0
        _drain(spark, warm_dir, ctx.scratch("drain-ckpt"), config, Ledger())
        return session_s, time.perf_counter() - t0

    def drains(budget: float) -> tuple[list[float], int]:
        walls, failed = [], 0
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < budget:
            ledger = Ledger()
            walls.append(_drain(ctx.spark, log_dir, ctx.scratch("drain-ckpt"), config, ledger))
            failed += _check(ctx, ledger, want)
        return walls, failed

    session_s, setup_s = session_and_warm()
    ctx.log(f"session {session_s:.2f}s, set-up {setup_s:.2f}s; measuring")
    jobs = JobLedger(ctx.spark) if trace else None
    j0 = jobs.mark() if trace else 0
    walls, failed = drains(seconds)
    metrics = {
        "setup_s": setup_s,
        "latency_mean_s": statistics.fmean(walls),
        "latency_p90_s": pct(walls, 90),
        "throughput_per_s": total * len(walls) / sum(walls),
        "heap_after_gc_mb": ctx.heap_after_gc_mb(),
    }
    if trace:
        execd = jobs.stats(j0, jobs.mark())
        n = len(walls)
        metrics.update({
            "session.start_s": session_s,
            "exec.exec_s": statistics.median(walls),
            "exec.jobs": execd.jobs / n,
            "exec.stages": execd.stages / n,
            "exec.tasks": execd.tasks / n,
            "exec.executor_s": execd.executor_s / n,
            "exec.occupancy": execd.executor_s / (sum(walls) * ctx.cores),
            "exec.gc_s": execd.gc_s / n,
            "functions.filters.pass_ratio": len(want) / total,
        })
        # the same drain on one core: how far the data path scales
        ctx.stop_session()
        session_and_warm(master="local[1]")
        single, single_failed = drains(0)
        failed += single_failed
        walls += single
        metrics["exec.core_scaling"] = statistics.median(single) / metrics["exec.exec_s"]
    return {"metrics": metrics, "samples": len(walls), "attempted": total * len(walls),
            "failed": failed}
