"""Live phase of alert_wire: the alert job with dedupe, fed open-loop.

The query runs on the default trigger (next batch as soon as the last
one ends). After a warm-up batch, a separate generator process
(perfbench/gen.py, which fixes the rate) publishes ``gen.FILES_PER_S``
files a second of ``gen.PER_FILE`` events each, plus ~5% redelivered
events. An alert's latency runs from its event's scheduled send time to
the return of the sink call that wrote it; events of the first
``WARM_S`` seconds are left out of the sample.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass
from statistics import median

from perfbench import alerts, gen

WARM_S = 2
#: Event index ranges of the warm-up and of the generated load, apart
#: from each other and from the backlog's.
WARM_BASE = 10_000_000
FIRST = 1_000_000
EVENTS_FILE = "live_events.parquet"


@dataclass
class Live:
    sink: alerts.ProducerSink
    progress: list[dict]
    t0: float  # first scheduled send
    t_end: float  # drained
    t_last_publish: float
    lag_ms: list[float]
    sent_at: dict[bytes, float]  # first scheduled send of each decodable event
    poison_keys: set[bytes]
    events: list[dict]  # every decodable event the query saw, warm-up included


def run_phase(run, spark, seconds: float) -> Live:
    src, stage = run.path("src"), run.path("stage")
    os.makedirs(src)
    os.makedirs(stage)
    sink = alerts.ProducerSink(run.path("out", "live"))
    n_files = int((WARM_S + seconds) * gen.FILES_PER_S)

    with run.span("live.warm"):
        t_warm = time.time()
        warm = [alerts.make_event(run.seed, WARM_BASE + i, t_warm) for i in range(gen.PER_FILE)]
        recs = [(e["event_hash_sha256"].encode(), alerts.encode_payload(e, False), t_warm) for e in warm]
        alerts.write_records(os.path.join(stage, "warm.parquet"), recs, 0)
        os.rename(os.path.join(stage, "warm.parquet"), os.path.join(src, "warm.parquet"))
        records = alerts.alert_records(spark, src, dedupe=True)
        q = alerts.start_stream(records, sink, run.path("ckpt", "live"), available_now=False)
        q.processAllAvailable()
        warm_epochs = set(sink.returned)

    with run.span("live.generator_stage"):
        proc = subprocess.Popen(
            [
                sys.executable, gen.__file__,
                "--src", src, "--stage", stage, "--seed", str(run.seed),
                "--first", str(FIRST), "--files", str(n_files),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        try:
            t0 = json.loads(proc.stdout.readline())["t0"]
            run.timed_start(t0)
        except (ValueError, KeyError):
            proc.kill()
            proc.wait()
            raise RuntimeError("generator failed to stage its files")
    with run.span("live.timed"):
        try:
            lag_ms = json.loads(proc.stdout.readline())["lag_ms"]
        finally:
            proc.stdout.close()
            try:
                code = proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                code = proc.wait()
        if code != 0:
            raise RuntimeError("generator exited with an error")
        q.processAllAvailable()
        t_end = time.time()
        progress = [p for p in q.recentProgress if p["batchId"] not in warm_epochs]
        q.stop()

    sent_at, events, poison = {}, list(warm), set()
    for k, entries in enumerate(gen.plan(run.seed, FIRST, n_files)):
        for i, again in entries:
            if again:
                continue
            t = t0 + k / gen.FILES_PER_S
            ev = alerts.make_event(run.seed, i, t)
            key = ev["event_hash_sha256"].encode()
            if alerts.is_poison(run.seed, i):
                poison.add(key)
            else:
                sent_at[key] = t
                events.append(ev)
    t_last_publish = t0 + (n_files - 1) / gen.FILES_PER_S + lag_ms[-1] / 1e3
    return Live(sink, progress, t0, t_end, t_last_publish, lag_ms, sent_at, poison, events)


def generator_late(live: Live) -> bool:
    """Whether the generator fell more than one file interval behind."""
    return max(live.lag_ms) > 1e3 / gen.FILES_PER_S


def latencies(live: Live, produced: list[dict]) -> list[float]:
    """ms from scheduled send to sink return, past the warm-up window."""
    t_measured = live.t0 + WARM_S
    out = []
    for r in produced:
        t = live.sent_at.get(r["key"])
        if t is not None and t >= t_measured:
            out.append((live.sink.returned[r["epoch"]] - t) * 1e3)
    return out


def trace_layers(live: Live, produced: list[dict]) -> dict:
    """Stream, sink and generator figures of the live phase."""
    delivered: dict[bytes, float] = {}
    for r in produced:
        if r["key"] in live.sent_at:
            done = live.sink.returned[r["epoch"]]
            delivered[r["key"]] = min(delivered.get(r["key"], done), done)
    return {
        "sink.write_ms_p50": median(live.sink.write_ms),
        "gen.lag_ms_max": max(live.lag_ms),
        "gen.backlog_end_events": sum(1 for done in delivered.values() if done > live.t_last_publish),
        **alerts.progress_layers(live.progress),
    }
