"""Backlog phase of alert_wire: the whole alert job drains a preloaded
topic flat out, as after a consumer restart. Each of ``ROUNDS`` timed
rounds restarts the query with a fresh checkpoint over the same topic
and runs it ``availableNow``; the phase reports alerts per second of
drain."""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass, field
from statistics import median

from perfbench import alerts

#: Topic layout: files of Kafka records; 16 files are one trigger's worth
#: (the broker stand-in's default maxFilesPerTrigger), so a round is a
#: restart plus one full micro-batch.
TOPIC_FILES = 16
EVENTS_PER_FILE = 125
#: The warm-up drains a few files of other events.
WARM_FILES = 2
WARM_BASE = 20_000_000
#: Send time of the preloaded events (2025-01-01T00:00:00Z), 1 ms apart.
BASE_TIME = 1735689600.0
ROUNDS = 2
EVENTS_FILE = "backlog_events.parquet"


@dataclass
class Topic:
    events: list[dict] = field(default_factory=list)  # the ones that decode
    poison_keys: set[bytes] = field(default_factory=set)
    bodies: list[bytes] = field(default_factory=list)  # protobuf, unframed


def write_topic(run, name: str, first: int, n_files: int) -> Topic:
    """Seeded events first..first+n_files*EVENTS_PER_FILE as a topic dir."""
    os.makedirs(run.path(name))
    topic = Topic()
    for f in range(n_files):
        recs = []
        for i in range(first + f * EVENTS_PER_FILE, first + (f + 1) * EVENTS_PER_FILE):
            t = BASE_TIME + i * 1e-3
            ev = alerts.make_event(run.seed, i, t)
            poison = alerts.is_poison(run.seed, i)
            value = alerts.encode_payload(ev, poison)
            key = ev["event_hash_sha256"].encode()
            recs.append((key, value, t))
            if poison:
                topic.poison_keys.add(key)
            else:
                topic.events.append(ev)
                topic.bodies.append(value[5 + len(alerts.IN_INDEX_BYTES) :])
        alerts.write_records(run.path(name, f"part-{f:05d}.parquet"), recs, f * EVENTS_PER_FILE)
    return topic


@dataclass
class Round:
    sink: alerts.ProducerSink
    progress: list[dict]
    t_build: float  # round start: every record is already waiting
    t_built: float
    t_end: float


def run_phase(run, spark, topic: Topic) -> list[Round]:
    """Warm up on other events, then drain ``topic`` ``ROUNDS`` times."""

    def drain(src: str, tag: str) -> Round:
        sink = alerts.ProducerSink(run.path("out", tag))
        t_build = time.time()
        records = alerts.alert_records(spark, src, dedupe=False)
        t_built = time.time()
        q = alerts.start_stream(records, sink, run.path("ckpt", tag), available_now=True)
        q.awaitTermination()
        return Round(sink, q.recentProgress, t_build, t_built, time.time())

    with run.span("backlog.warm"):
        write_topic(run, "warm", WARM_BASE, WARM_FILES)
        drain(run.path("warm"), "warm")
    run.timed_start()
    with run.span("backlog.timed"):
        return [drain(run.path("topic"), f"r{k}") for k in range(ROUNDS)]


def check(expected: alerts.AlertCheck, topic: Topic, rounds: list[Round], run) -> tuple[int, int, list]:
    """Decode and compare the first round's records; later rounds replay
    the same topic, so their records must equal the first's byte for
    byte. → (attempted, failed, first round's records)."""
    keys = {e["event_hash_sha256"].encode() for e in topic.events}
    first = alerts.read_produced(run.path("out", "r0"))
    attempted, failed = expected.compare(first, keys)
    ref = _raw(first)
    for k in range(1, len(rounds)):
        again = _raw(alerts.read_produced(run.path("out", f"r{k}")))
        attempted += len(first)
        failed += max(ref.total(), again.total()) - (ref & again).total()
    return attempted, failed, first


def rates(rounds: list[Round], n_alerts: int) -> list[float]:
    return [n_alerts / (r.t_end - r.t_build) for r in rounds]


def _raw(records: list[dict]) -> Counter:
    return Counter((r["key"], r["value"], r["timestamp"], repr(r["headers"])) for r in records)


def trace_layers(
    run, spark, expected: alerts.AlertCheck, topic: Topic, rounds: list[Round], first: list
) -> tuple[dict, dict]:
    """Codec, envelope and plan-building figures of the backlog phase."""
    from event_stream_aggr_spark.plans.snort import with_kafka_envelope

    n = len(rounds)
    codecs, codec_share = alerts.codec_layers(
        run, expected, topic.bodies, n * (len(topic.bodies) + len(topic.poison_keys)),
        n * len(first), (rounds[0].t_build, rounds[-1].t_end),
    )
    with run.span("trace.envelope"):
        plain = alerts.plain_events(spark, run.path(EVENTS_FILE))
        env_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            with_kafka_envelope(plain).write.format("noop").mode("overwrite").save()
            env_s.append(time.perf_counter() - t0)
    layers = {
        **codecs,
        "sources.poison_dropped": len(topic.poison_keys - {r["key"] for r in first}),
        "plans.envelope_s": median(env_s),
        "plans.build_s": median([r.t_built - r.t_build for r in rounds]),
    }

    def side_jobs(log):
        return median([len(log.jobs_in(r.t_build * 1e3, r.t_built * 1e3)) for r in rounds])

    return layers, {**codec_share, "plans.side_jobs": side_jobs}
