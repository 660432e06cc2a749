"""Stream maintainers of batch_headline: the top-k and skyline
``foreachBatch`` sinks (streaming/topk.py, streaming/skyline.py) each
fold sf0.01 rows replayed ``availableNow`` in a seeded arrival order
into their own state root of the merge store (streaming/state_store.py).
A fold's final state must equal its batch twin: the DuckDB oracle of
the registry query it maintains (qi07 for top-k, q86 for skyline)."""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from event_stream_aggr_spark.streaming.skyline import skyline_sink
from event_stream_aggr_spark.streaming.topk import topk_sink

#: Input layout: FILES files read FILES_PER_TRIGGER at a time, so a fold
#: is a stream start plus FILES / FILES_PER_TRIGGER micro-batches.
FILES = 8
FILES_PER_TRIGGER = 4


@dataclass(frozen=True)
class Maintainer:
    table: str
    columns: tuple[str, ...]  # the table columns the stream replays
    prepare: Callable  # replayed stream → the sink's input rows
    sink: Callable  # state root → foreachBatch function
    twin: str  # registry query whose oracle the folded state must equal
    shape: Callable  # state DataFrame → the twin's output columns


def _topk_rows(stream):
    from pyspark.sql import functions as F

    return stream.select(
        "o_orderpriority", "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )


def _topk_shape(state):
    """qi07's columns: the leaderboard with its rank and a double price."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("o_orderpriority").orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
    return state.select(
        "o_orderpriority",
        F.row_number().over(w).cast("long").alias("rnk"),
        "o_orderkey",
        F.col("price").cast("double").alias("price"),
    )


MAINTAINERS = {
    "topk": Maintainer(
        "orders",
        ("o_orderpriority", "o_orderkey", "o_totalprice"),
        _topk_rows,
        topk_sink,
        "qi07_incremental_topk",
        _topk_shape,
    ),
    # the skyline sink takes part rows as they are, and its state already
    # has q86's columns
    "skyline": Maintainer(
        "part",
        ("p_brand", "p_retailprice", "p_size"),
        lambda stream: stream,
        skyline_sink,
        "q86_pareto_frontier",
        lambda state: state,
    ),
}


@dataclass
class Source:
    path: str
    schema: object  # pyspark StructType of the replayed rows


def write_sources(run, data_dir: str) -> dict[str, Source]:
    """Each maintainer's table columns, rows shuffled by the seed, as
    FILES parquet files."""
    from pyspark.sql.pandas.types import from_arrow_schema

    out = {}
    for name, m in MAINTAINERS.items():
        table = pq.read_table(os.path.join(data_dir, f"{m.table}.parquet"), columns=list(m.columns))
        order = list(range(table.num_rows))
        random.Random(f"{name}:{run.seed}").shuffle(order)
        table = table.take(pa.array(order))
        path = run.path("m", "src", name)
        os.makedirs(path)
        per = -(-table.num_rows // FILES)
        for k in range(FILES):
            pq.write_table(table.slice(k * per, per), os.path.join(path, f"part-{k:03d}.parquet"))
        out[name] = Source(path, from_arrow_schema(table.schema))
    return out


@dataclass
class Fold:
    name: str
    root: str  # the state root
    batches: int  # micro-batches that read input


def fold(run, spark, name: str, src: Source, tag: str) -> Fold:
    """Replay ``src`` through maintainer ``name`` into a fresh state root,
    ``availableNow``, and wait for the stream to end."""
    from event_stream_aggr_spark.sources.files import stream_parquet_dir

    m = MAINTAINERS[name]
    root = run.path("m", tag, "state")
    stream = stream_parquet_dir(spark, src.path, src.schema, max_files_per_trigger=FILES_PER_TRIGGER)
    q = (
        m.prepare(stream)
        .writeStream.foreachBatch(m.sink(root))
        .option("checkpointLocation", run.path("m", tag, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = sum(1 for p in q.recentProgress if p.get("numInputRows", 0) > 0)
    return Fold(name, root, batches)


def state_pdf(spark, f: Fold):
    """The folded state in its batch twin's columns, as pandas."""
    from event_stream_aggr_spark.streaming.state_store import read_state

    state, _ = read_state(spark, f.root)
    if state is None:
        return None
    return MAINTAINERS[f.name].shape(state).toPandas()


def state_bytes(f: Fold) -> int:
    """On-disk bytes under the fold's state root."""
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(f.root) for n in names
    )
