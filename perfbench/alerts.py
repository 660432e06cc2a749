"""Alert wire-path inputs and the engine-independent output check.

The generator builds ``SensorEvent`` dicts (schemas.SENSOR_EVENT_SCHEMA
shape) from a seed, frames their protobuf bytes the way the Confluent
serializer does, and lays them out as Kafka-record-shaped parquet files
(sources.kafka.kafka_record_schema). The check rebuilds the expected
alerts with ``plans.snort.with_kafka_envelope`` over the same dicts as a
plain DataFrame, with no codec in the path, and compares every produced
record field by field after decoding its Avro value.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import time
from collections import Counter
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

from event_stream_aggr_spark.sources import avro_wire, protobuf_wire
from event_stream_aggr_spark.sources import registry as wire

#: Schema-registry ids the framed topics carry (any fixed values do).
IN_SCHEMA_ID = 7
OUT_SCHEMA_ID = 11
IN_INDEX_BYTES = wire.protobuf_message_index_bytes(
    wire.SENSOR_EVENT_MESSAGE_INDEXES
)
#: Share of optional fields present, and of payloads cut short.
OPTIONAL_PRESENT = 0.7
POISON_SHARE = 0.001

_OPT_METRIC = [(n, kind) for _, n, kind, opt in protobuf_wire.METRIC_FIELDS if opt]
_UTC = dt.timezone.utc


def snort_clock(t: float) -> str:
    """Epoch seconds → the Snort alert clock (yy/MM/dd-HH:mm:ss.ffffff)."""
    return dt.datetime.fromtimestamp(t, _UTC).strftime("%y/%m/%d-%H:%M:%S.%f")


def _metric(rng: random.Random, t: float, j: int) -> dict:
    m = {"snort_timestamp": snort_clock(t)}
    for name, kind in _OPT_METRIC:
        if rng.random() >= OPTIONAL_PRESENT:
            m[name] = None
        elif kind == "string":
            m[name] = f"{name[6:]}-{rng.randrange(1 << 20):x}"
        else:
            m[name] = rng.randrange(1 << rng.choice((7, 15, 31, 40))) + j
    return m


def event_key(seed: int, i: int) -> bytes:
    return hashlib.sha256(f"{seed}:{i}".encode()).hexdigest().encode()


def make_event(seed: int, i: int, t: float) -> dict:
    """Event ``i`` of the seeded stream, created (and sent) at ``t``."""
    rng = random.Random(f"{seed}:{i}")
    n = rng.randint(1, 5)
    us = int(round(t * 1e6))
    opt = lambda v: v if rng.random() < OPTIONAL_PRESENT else None  # noqa: E731
    sid = rng.randrange(1_000_000, 1_100_000)
    return {
        "metrics": [_metric(rng, t, j) for j in range(n)],
        "event_hash_sha256": event_key(seed, i).decode(),
        "event_metrics_count": n,
        "event_seconds": int(t),
        "sensor_id": f"sensor-{rng.randrange(8)}",
        "sensor_version": "3.1.0",
        "event_read_at": us - rng.randrange(1, 5000),
        "event_sent_at": us,
        "event_received_at": us + rng.randrange(1, 5000),
        "snort_action": opt(rng.choice(["allow", "alert", "block"])),
        "snort_classification": opt(rng.choice(["attempted-recon", "misc-activity"])),
        "snort_direction": opt(rng.choice(["C2S", "S2C"])),
        "snort_interface": f"eth{rng.randrange(2)}",
        "snort_message": f"alert {sid}",
        "snort_priority": rng.randint(1, 4),
        "snort_protocol": rng.choice(["TCP", "UDP", "ICMP"]),
        "snort_rule_gid": 1,
        "snort_rule_rev": rng.randint(1, 9),
        "snort_rule_sid": sid,
        "snort_rule": f"1:{sid}:1",
        "snort_seconds": int(t),
        "snort_service": opt(rng.choice(["http", "dns", "ssh"])),
        "snort_type_of_service": opt(rng.randrange(256)),
    }


def is_poison(seed: int, i: int) -> bool:
    return random.Random(f"poison:{seed}:{i}").random() < POISON_SHARE


def encode_payload(event: dict, poison: bool) -> bytes:
    """Confluent-framed protobuf value. A poison value is cut short
    inside a field (a cut on a field boundary is a valid shorter
    message), so decoding it must fail."""
    body = protobuf_wire.encode_sensor_event(event)
    if poison:
        for cut in range(len(body) // 3, len(body)):
            try:
                protobuf_wire.decode_sensor_event(body[:cut])
            except Exception:  # any decode failure is what poison means
                body = body[:cut]
                break
    return b"\x00" + IN_SCHEMA_ID.to_bytes(4, "big") + IN_INDEX_BYTES + body


_RECORD_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
    ]
)


def write_records(path: str, records: list[tuple[bytes, bytes, float]], first_offset: int) -> None:
    """(key, value, send time) tuples → one Kafka-record-shaped parquet file."""
    n = len(records)
    table = pa.table(
        {
            "key": [k for k, _, _ in records],
            "value": [v for _, v, _ in records],
            "topic": ["sensor_events"] * n,
            "partition": [0] * n,
            "offset": list(range(first_offset, first_offset + n)),
            "timestamp": [int(t * 1e6) for _, _, t in records],
            "timestampType": [0] * n,
            "headers": [[] for _ in range(n)],
        },
        schema=_RECORD_SCHEMA,
    )
    pq.write_table(table, path)


def wire_pipeline(raw):
    """Broker stand-in records → decoded SensorEvent rows: unframe the
    Confluent header, then protobuf-decode (poison values are dropped)."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.sources.protobuf_wire import decode_sensor_events_py

    payload = wire.unframe_payload(F.col("value"), len(IN_INDEX_BYTES))
    return decode_sensor_events_py(raw.select(payload.alias("value")))


def produce(alerts):
    """Avro-encode and Confluent-frame each alert into a producer record."""
    from pyspark.sql import functions as F

    encoded = avro_wire.encode_avro_py(alerts)
    return encoded.select(
        F.col("key").cast("binary").alias("key"),
        wire.frame_confluent(F.col("value"), OUT_SCHEMA_ID).alias("value"),
        "headers",
        F.col("event_time").alias("timestamp"),
    )


def write_events(path: str, events: list[dict]) -> None:
    """The generator's event dicts as plain parquet rows (no codec)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA

    schema = to_arrow_schema(SENSOR_EVENT_SCHEMA)
    pq.write_table(pa.Table.from_pylist(events, schema=schema), path)


def plain_events(spark, *paths: str):
    from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA

    return spark.read.schema(SENSOR_EVENT_SCHEMA).parquet(*paths)


class AlertCheck:
    """Expected alerts from plain event rows; produced records compared
    as multisets of (key, headers, record timestamp, decoded value)."""

    def __init__(self, spark, events_paths: list[str]):
        from event_stream_aggr_spark.plans.snort import with_kafka_envelope
        from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA
        from event_stream_aggr_spark.sources.kafka import avro_payload_columns

        # the encoder's record schema follows the decoder's (non-null)
        # column types, so it is derived from the declared event schema
        typed = with_kafka_envelope(spark.createDataFrame([], SENSOR_EVENT_SCHEMA)).schema
        self.payload_cols = avro_payload_columns(typed.fieldNames())
        self.schema = avro_wire.avro_schema_of(
            type(typed)([typed[c] for c in self.payload_cols])
        )
        df = with_kafka_envelope(plain_events(spark, *events_paths))
        rows = _micros(
            df.select("key", "headers", "event_time", *self.payload_cols).toArrow(),
            "event_time",
        )
        self.payloads = []
        self.expected: dict[bytes, Counter] = {}
        for r in rows.to_pylist():
            payload = {c: r[c] for c in self.payload_cols}
            self.payloads.append(payload)
            key = r["key"].encode()
            canon = _canon(key, r["headers"], r["event_time"], payload)
            self.expected.setdefault(key, Counter())[canon] += 1

    def compare(self, produced: list[dict], keys) -> tuple[int, int]:
        """Produced records against the expected alerts of events
        ``keys`` → (attempted, failed): failed counts alerts missing,
        extra or wrong (a wrong alert is one missing plus one extra,
        counted once)."""
        want = Counter()
        for k in keys:
            want.update(self.expected.get(k, ()))
        got = Counter()
        for r in produced:
            v = r["value"]
            if v[:1] != b"\x00" or int.from_bytes(v[1:5], "big") != OUT_SCHEMA_ID:
                got[("bad-frame", r["key"])] += 1
                continue
            payload = avro_wire.decode_record(v[5:], self.schema)
            got[_canon(r["key"], r["headers"], r["timestamp"], payload)] += 1
        missing = sum((want - got).values())
        extra = sum((got - want).values())
        return sum(want.values()), max(missing, extra)


def _canon(key: bytes, headers: list, ts_us: int, payload: dict) -> tuple:
    hdr = tuple((h["key"], h["value"]) for h in headers)
    return (key, hdr, ts_us, repr(payload))


def _micros(table: pa.Table, col: str) -> pa.Table:
    """Replace a timestamp column (any unit, any zone) by epoch µs."""
    us = table[col].cast(pa.timestamp("us")).cast(pa.int64())
    return table.set_column(table.schema.get_field_index(col), col, us)


def read_produced(out_dir: str) -> list[dict]:
    """Every record the sink wrote, with the epoch directory it sits in."""
    rows = []
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith("epoch="):
            continue
        epoch = int(d[6:])
        table = _micros(pq.read_table(os.path.join(out_dir, d)), "timestamp")
        for r in table.to_pylist():
            r["epoch"] = epoch
            rows.append(r)
    return rows


class ProducerSink:
    """foreachBatch stand-in for the Kafka producer: each micro-batch's
    records are written under ``epoch=<id>`` (a retried batch overwrites
    its own); the return time of every call is kept, since an alert is
    delivered when the call that wrote it returns."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.returned: dict[int, float] = {}
        self.write_ms: list[float] = []

    def __call__(self, df, epoch_id: int) -> None:
        t0 = time.time()
        df.write.mode("overwrite").parquet(os.path.join(self.out_dir, f"epoch={epoch_id}"))
        t1 = time.time()
        self.returned[epoch_id] = t1
        self.write_ms.append((t1 - t0) * 1e3)


def alert_records(spark, src_dir: str, dedupe: bool):
    """The reference's job as one streaming DataFrame: broker stand-in →
    unframe → protobuf decode → envelope [→ dedupe] → Avro encode + frame."""
    from event_stream_aggr_spark.sources.kafka import read_kafka_records_sim
    from event_stream_aggr_spark.streaming.pipeline import snort_alert_stream

    raw = read_kafka_records_sim(spark, src_dir)
    return produce(snort_alert_stream(wire_pipeline(raw), dedupe=dedupe))


def start_stream(records, sink: ProducerSink, checkpoint: str, available_now: bool):
    writer = records.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def progress_layers(progress: list[dict]) -> dict:
    """Per-layer figures from StreamingQuery progress reports of batches
    that read input."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not busy:
        return {"stream.batches": 0}
    dur = lambda p, *keys: sum(p["durationMs"].get(k, 0) for k in keys)  # noqa: E731
    state = [op for p in busy for op in p.get("stateOperators", [])]
    last_state = busy[-1].get("stateOperators", [])
    return {
        "stream.batches": len(busy),
        "stream.rows_per_batch_p50": median([p["numInputRows"] for p in busy]),
        "stream.trigger_ms_p50": median([dur(p, "triggerExecution") for p in busy]),
        "stream.add_batch_ms_p50": median([dur(p, "addBatch") for p in busy]),
        "stream.planning_ms_p50": median([dur(p, "queryPlanning") for p in busy]),
        "stream.offsets_ms_p50": median([dur(p, "latestOffset") for p in busy]),
        "stream.log_ms_p50": median([dur(p, "walCommit", "commitOffsets") for p in busy]),
        "stream.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
        "stream.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_state),
        "stream.dedup_dropped": sum(
            (op.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0) for op in state
        ),
    }


def codec_layers(run, check: AlertCheck, bodies: list[bytes], n_events: int, n_alerts: int, window):
    """One-thread µs per protobuf decode and per Avro encode over the
    run's own payloads, and (from the event log) the share of executor
    run time in the window those calls account for."""
    with run.span("trace.codecs"):
        decode_us = time_calls(protobuf_wire.decode_sensor_event, bodies)
        encode_us = time_calls(lambda d: avro_wire.encode_record(d, check.schema), check.payloads)

    def codec_share(log) -> float:
        run_s = log.reduce(window[0] * 1e3, window[1] * 1e3)["executor_run_s"]
        return (decode_us * n_events + encode_us * n_alerts) / 1e6 / run_s

    layers = {"sources.decode_us": decode_us, "sources.encode_us": encode_us}
    return layers, {"sources.codec_share": codec_share}


#: Calls timed per codec in a traced run.
TIMED_CALLS = 2000


def time_calls(fn, args: list) -> float:
    """Mean one-thread µs per ``fn(arg)`` over the first TIMED_CALLS args."""
    sample = args[:TIMED_CALLS]
    t0 = time.perf_counter()
    for a in sample:
        fn(a)
    return (time.perf_counter() - t0) / len(sample) * 1e6
