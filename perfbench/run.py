"""Benchmark of the alert wire path, live alert latency, a batch
headline and two stream maintainers, end to end (``--trace 0``) and per
layer (``--trace 1``).

    python3 perfbench/run.py --workload alert_wire --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric of BENCHMARK.json with ``--trace 0``, every
per-layer one with ``--trace 1``; a workload that does not load a layer
reports 0 for its metrics). The line before it stamps the run (nproc,
defaultParallelism, seed, commit, Spark version); lines before that
summarize each timing sample with its size. Working files go under
``.perfbench/`` in the checkout, where a traced run also leaves its
spans (name, start, end, parent) and an untraced run its end-to-end
figures, keyed by workload, seed and source digest. A traced run
reports its overhead against the untraced run of the same workload,
seed and source, else against the median of the untraced runs of the
same workload and source; when there is none yet it makes one first.

Workloads (BENCHMARK.json says why each exists):

- ``alert_wire``: the whole alert job drains a preloaded topic, then
  runs with dedupe under open-loop load (perfbench/wire.py).
- ``batch_headline``: a fixed set of headline registry queries and the
  top-k and skyline stream maintainers over the sf0.01 tables in
  perfbench/data, each checked against its DuckDB oracle
  (perfbench/batch.py, perfbench/maintainers.py).

End-to-end metrics: ``setup_s`` (process start to the first timed
operation), ``throughput_per_s`` (alerts per second of backlog drain;
operations per second of a pass), ``latency_p50_ms`` and
``latency_tail_ms`` (per live alert, from its scheduled send to the
return of the sink call that wrote it; per pass of the headline, from
input to complete result). The tail is p90 where at least ten samples
lie beyond it, as on alert_wire; batch_headline's few passes support no
tail, so there it is the p50.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.batch import QUERIES as BATCH_QUERIES  # noqa: E402
from perfbench.maintainers import MAINTAINERS  # noqa: E402

WORKLOADS = {"alert_wire": "perfbench.wire:run_wire", "batch_headline": "perfbench.batch:run_batch"}
E2E = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms", "latency_tail_ms": "ms"}
SPARK_LAYER = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "driver_gap_s",
)
PER_LAYER = (
    "sources.decode_us", "sources.encode_us", "sources.codec_share",
    "sources.poison_dropped",
    "plans.envelope_s", "plans.build_s", "plans.side_jobs", "plans.collect_s",
    *(f"q.{q}.{m}" for q in BATCH_QUERIES for m in ("s", "jobs")),
    *(f"m.{n}.{m}" for n in MAINTAINERS for m in ("s", "batches", "jobs_per_batch", "state_bytes")),
    "stream.batches", "stream.rows_per_batch_p50", "stream.trigger_ms_p50",
    "stream.add_batch_ms_p50", "stream.planning_ms_p50", "stream.offsets_ms_p50",
    "stream.log_ms_p50", "stream.state_rows", "stream.state_mem_bytes",
    "stream.dedup_dropped", "sink.write_ms_p50", "gen.lag_ms_max",
    "gen.backlog_end_events",
    *(f"spark.{m}" for m in SPARK_LAYER),
    "peak_rss_mb", "latency_n", "failed_share",
    "trace.overhead_share", "trace.uncovered_share",
)


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident sizes (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return total_kb / 1024


def source_digest() -> str:
    """sha256 over the package and benchmark sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    for top in ("event_stream_aggr_spark", "perfbench"):
        for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return out.stdout.strip() or None


class Run:
    """One benchmark process: its session, working directory and spans."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, t_start: float):
        self.t_process = t_start
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.digest = source_digest()
        self.nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
        self.work = os.path.join(ROOT, ".perfbench", f"{workload}-{os.getpid()}")
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._open: list[str] = []
        self.t_first_timed: float | None = None
        self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record (name, start, end, parent) around a call into a layer."""
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append((name, t0, time.time(), parent))

    def timed_start(self, t: float | None = None) -> None:
        """Mark the first timed operation (now, or at ``t``); set-up ends there."""
        if self.t_first_timed is None:
            self.t_first_timed = time.time() if t is None else t

    def start_spark(self):
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["TMPDIR"] = self.path("tmp")
        os.makedirs(self.path("tmp"))
        from event_stream_aggr_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("local"),
            # the JVM's temporary and perf-counter files stay in the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.span("spark.session"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc,
                extra_conf=conf,
            )
        return self.spark

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def stamp(self) -> dict:
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": self.nproc,
            "defaultParallelism": self.spark.sparkContext.defaultParallelism,
            "spark_version": pyspark.__version__,
            "commit": git_commit(),
            "source_sha256": self.digest,
        }

    def stop_spark(self) -> float:
        """Stop Spark, then its JVM; → peak RSS (MB) of this process plus the JVM."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        return rss


def e2e_metrics(run: Run, res: dict) -> dict:
    values = {
        "setup_s": run.t_first_timed - run.t_process,
        "throughput_per_s": res["throughput_per_s"],
        "latency_p50_ms": stats.percentile(res["latency_ms"], 50),
        "latency_tail_ms": stats.tail(res["latency_ms"])[1],
    }
    return {k: (v, E2E[k]) for k, v in values.items()}


def trace_metrics(run: Run, res: dict, e2e: dict, rss_mb: float) -> dict:
    """Per-layer metrics: the workload's own, the event log's over the
    timed windows, the tracing overhead against untraced runs of the same
    source (``untraced_throughput``), and the share of wall no top-level
    span covers."""
    from perfbench.eventlog import EventLog

    out = dict.fromkeys(PER_LAYER, 0.0)
    log = EventLog.from_dir(run.path("eventlog"))
    for t0, t1 in res["timed_windows"]:
        for k, v in log.reduce(t0 * 1e3, t1 * 1e3).items():
            out[f"spark.{k}"] += v
    out.update(res["layers"])
    out.update({k: fn(log) for k, fn in res["eventlog_layers"].items()})
    out["trace.overhead_share"] = untraced_throughput(run) / e2e["throughput_per_s"][0] - 1
    wall = time.time() - run.t_process
    covered = stats.union_length([(s, e) for _, s, e, parent in run.spans if parent is None])
    out["trace.uncovered_share"] = max(wall - covered, 0.0) / wall
    out["failed_share"] = res["failed"] / res["attempted"]
    out["latency_n"] = len(res["latency_ms"])
    out["peak_rss_mb"] = rss_mb
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return {k: (v, _unit(k)) for k, v in out.items()}


def _unit(name: str) -> str:
    for suffixes, unit in (
        (("_us",), "us"), (("_ms", "_ms_p50", "_ms_max"), "ms"), (("_s", ".s"), "s"),
        (("_mb",), "MB"), (("_bytes",), "bytes"), (("_share",), "share"),
    ):
        if name.endswith(suffixes):
            return unit
    return "count"


def _untraced_path(workload: str, seed: int | str, digest: str) -> str:
    return os.path.join(ROOT, ".perfbench", "untraced", f"{workload}-{seed}-{digest}.json")


def untraced_throughput(run: Run) -> float:
    """Throughput of the untraced run of this workload, seed and source,
    else the median over this workload's untraced runs of this source
    (other seeds draw other inputs of the same size and shape)."""
    exact = _untraced_path(run.workload, run.seed, run.digest)
    if os.path.exists(exact):
        paths = [exact]
    else:
        paths = glob.glob(_untraced_path(run.workload, "*", run.digest))
        print(f"# overhead against the median of {len(paths)} untraced runs of other seeds")
    values = []
    for path in paths:
        with open(path) as f:
            values.append(json.load(f)["throughput_per_s"])
    return statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = process_start_time()
    if args.trace and not glob.glob(_untraced_path(args.workload, "*", source_digest())):
        print("# no untraced run of this workload and source yet: making one")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=sys.stderr, check=True,
        )
        t_start = time.time()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), t_start)
    module, func = WORKLOADS[args.workload].split(":")
    body = getattr(importlib.import_module(module), func)
    try:
        res = body(run)
        stamp = run.stamp()
    finally:
        rss = run.stop_spark() if run.spark is not None else None
    e2e = e2e_metrics(run, res)
    for name, sample in res["summaries"].items():
        print("# summary", name, json.dumps(stats.summarize(sample)))
    if run.trace:
        metrics = trace_metrics(run, res, e2e, rss)
        spans_path = os.path.join(ROOT, ".perfbench", f"spans-{run.workload}-{run.seed}.json")
        with open(spans_path, "w") as f:
            json.dump({"stamp": stamp, "spans": run.spans}, f)
    else:
        metrics = e2e
        path = _untraced_path(run.workload, run.seed, run.digest)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
    shutil.rmtree(run.work, ignore_errors=True)
    print("# stamp", json.dumps(stamp))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
