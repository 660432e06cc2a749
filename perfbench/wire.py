"""alert_wire: the reference's whole alert job (Confluent-framed protobuf
in → unframe → decode → explode/flatten/envelope → Avro encode + frame
→ producer), first draining a preloaded backlog (perfbench/backlog.py,
which gives the throughput) and then fed open-loop with dedupe
(perfbench/live.py, which gives the latency). ``--seconds`` is the live
phase's measured window; the backlog phase is a fixed number of drains.
Every produced record is decoded and compared with alerts rebuilt from
the plain events."""

from __future__ import annotations

from statistics import median

from perfbench import alerts, backlog, live


def run_wire(run) -> dict:
    with run.span("inputs"):
        topic = backlog.write_topic(run, "topic", 0, backlog.TOPIC_FILES)
        alerts.write_events(run.path(backlog.EVENTS_FILE), topic.events)
    spark = run.start_spark()
    rounds = backlog.run_phase(run, spark, topic)
    fed = live.run_phase(run, spark, run.seconds)

    with run.span("check"):
        alerts.write_events(run.path(live.EVENTS_FILE), fed.events)
        expected = alerts.AlertCheck(
            spark, [run.path(backlog.EVENTS_FILE), run.path(live.EVENTS_FILE)]
        )
        attempted, failed, first = backlog.check(expected, topic, rounds, run)
        produced = alerts.read_produced(run.path("out", "live"))
        live_keys = {e["event_hash_sha256"].encode() for e in fed.events}
        live_attempted, live_failed = expected.compare(produced, live_keys)
    if live.generator_late(fed):
        print(f"# generator fell {max(fed.lag_ms):.0f} ms behind: live phase counted as failed")
        live_failed = live_attempted
    latency_ms = live.latencies(fed, produced)
    rates = backlog.rates(rounds, len(first))
    res = {
        "attempted": attempted + live_attempted,
        "failed": failed + live_failed,
        "throughput_per_s": median(rates),
        "latency_ms": latency_ms,
        "summaries": {
            "alert_latency_ms": latency_ms,
            "backlog_alerts_per_s": rates,
            "generator_lag_ms": fed.lag_ms,
        },
        "timed_windows": [(rounds[0].t_build, rounds[-1].t_end), (fed.t0, fed.t_end)],
        "layers": {},
        "eventlog_layers": {},
    }
    if run.trace:
        layers, res["eventlog_layers"] = backlog.trace_layers(run, spark, expected, topic, rounds, first)
        layers.update(live.trace_layers(fed, produced))
        layers["sources.poison_dropped"] += len(fed.poison_keys - {r["key"] for r in produced})
        res["layers"] = layers
    print(f"# poison payloads injected: {len(topic.poison_keys) + len(fed.poison_keys)}")
    return res
