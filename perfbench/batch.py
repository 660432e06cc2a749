"""batch_headline: a fixed set of bench-headline registry queries and two
stream maintainers (perfbench/maintainers.py) over the sf0.01 tables in
perfbench/data.

An operation is one query, from its registered function's call until
``toPandas()`` returns, or one maintainer fold, from its stream's start
until the stream ends. A pass runs every operation once, in seeded
order. Set-up includes one warm pass; timed passes repeat while the
next one is expected to end within ``--seconds`` (at least one runs).
A pass is the latency sample (input to the complete headline result),
its operations per second the throughput. Every query result is then
compared with its DuckDB oracle by the strict compare of
tools/check_correctness.py, and every folded state with its batch
twin's oracle.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from statistics import median

from perfbench import maintainers

#: The headline queries this workload runs: a relational scan and
#: aggregate, a star join, and the two ROADMAP targets (qd13, qi05) whose
#: cost is driver-side orchestration rather than data.
QUERIES = (
    "q01_pricing_summary",
    "q05_star_join_geography",
    "qd13_curation_pipeline",
    "qi05_retraction_rollup",
)
OPERATIONS = QUERIES + tuple(maintainers.MAINTAINERS)
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")


def _check_correctness():
    """tools/check_correctness.py, loaded by path (tools/ is no package)."""
    path = os.path.join(os.path.dirname(HERE), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_batch(run) -> dict:
    from event_stream_aggr_spark.plans.registry import load_all

    spark = run.start_spark()
    specs = load_all()
    missing = [q for q in QUERIES if q not in specs or not specs[q].bench]
    if missing:
        raise RuntimeError(f"not bench-headline queries: {missing}")
    with run.span("maintainers.inputs"):
        sources = maintainers.write_sources(run, DATA)

    def one_pass(tag: str, order: list[str]) -> list[dict]:
        out = []
        for name in order:
            run.job_group(f"{tag}:{name}")
            t0 = time.time()
            t1, result = t0, None
            try:
                if name in sources:
                    result = maintainers.fold(run, spark, name, sources[name], f"{tag}-{name}")
                else:
                    df = specs[name].fn(spark, DATA)
                    t1 = time.time()
                    result = df.toPandas()
            except Exception as e:  # a failing operation is counted, not fatal
                print(f"# {name} raised {type(e).__name__}: {e}")
            t2 = time.time()
            out.append({"name": name, "t0": t0, "t1": t1, "t2": t2, "result": result})
        return out

    with run.span("warm"):
        one_pass("warm", list(OPERATIONS))

    run.timed_start()
    rng = random.Random(run.seed)
    passes, pass_s = [], []
    with run.span("timed"):
        t_timed = time.time()
        while not passes or time.time() - t_timed + median(pass_s) <= run.seconds:
            order = list(OPERATIONS)
            rng.shuffle(order)
            with run.span(f"pass{len(passes)}"):
                passes.append(one_pass(f"p{len(passes)}", order))
            pass_s.append(passes[-1][-1]["t2"] - passes[-1][0]["t0"])
        t_timed_end = time.time()

    with run.span("check"):
        failed, state_bytes = _check(spark, specs, passes)

    res = {
        "attempted": len(OPERATIONS) * len(passes),
        "failed": failed,
        "throughput_per_s": len(OPERATIONS) / median(pass_s),
        "latency_ms": [t * 1e3 for t in pass_s],
        "summaries": {
            "pass_s": pass_s,
            "operation_ms": [(r["t2"] - r["t0"]) * 1e3 for p in passes for r in p],
        },
        "timed_windows": [(t_timed, t_timed_end)],
        "layers": {},
        "eventlog_layers": {},
    }
    if run.trace:
        res.update(_trace_layers(passes, state_bytes))
    return res


def _check(spark, specs, passes) -> tuple[int, dict]:
    """Failed operations over all passes, and each maintainer's state
    bytes per pass."""
    cc = _check_correctness()
    con = cc.load_duck(DATA)
    failed = 0
    state_bytes: dict[str, list[int]] = {}
    for name in OPERATIONS:
        twin = maintainers.MAINTAINERS[name].twin if name in maintainers.MAINTAINERS else name
        want = con.execute(specs[twin].oracle).fetchdf()
        for p in passes:
            got = next(r["result"] for r in p if r["name"] == name)
            if got is not None and name in maintainers.MAINTAINERS:
                state_bytes.setdefault(name, []).append(maintainers.state_bytes(got))
                got = maintainers.state_pdf(spark, got)
            problems = ["no result"] if got is None else cc.compare(twin, got, want)
            if problems:
                print(f"# {name}: {problems}")
                failed += 1
    con.close()
    return failed, state_bytes


def _trace_layers(passes, state_bytes) -> dict:
    def ops(p, names):
        return [r for r in p if r["name"] in names]

    layers = {
        "plans.build_s": median([sum(r["t1"] - r["t0"] for r in ops(p, QUERIES)) for p in passes]),
        "plans.collect_s": median([sum(r["t2"] - r["t1"] for r in ops(p, QUERIES)) for p in passes]),
    }
    for name in OPERATIONS:
        prefix = f"m.{name}" if name in maintainers.MAINTAINERS else f"q.{name}"
        layers[f"{prefix}.s"] = median([r["t2"] - r["t0"] for p in passes for r in ops(p, (name,))])
    for name in maintainers.MAINTAINERS:
        folds = [r["result"] for p in passes for r in ops(p, (name,))]
        layers[f"m.{name}.batches"] = median([f.batches for f in folds])
        layers[f"m.{name}.state_bytes"] = median(state_bytes[name])

    def side_jobs(log):
        per_pass = [
            sum(len(log.jobs_in(r["t0"] * 1e3, r["t1"] * 1e3, f"p{k}:{r['name']}")) for r in ops(p, QUERIES))
            for k, p in enumerate(passes)
        ]
        return median(per_pass)

    def query_jobs(name):
        return lambda log: median(
            [len(log.jobs_in(0, float("inf"), f"p{k}:{name}")) for k in range(len(passes))]
        )

    def jobs_per_batch(name):
        # the stream's jobs run on its own threads, outside the job group:
        # count every job submitted while the fold ran
        return lambda log: median(
            [
                len(log.jobs_in(r["t0"] * 1e3, r["t2"] * 1e3)) / r["result"].batches
                for p in passes
                for r in ops(p, (name,))
            ]
        )

    return {
        "layers": layers,
        "eventlog_layers": {
            "plans.side_jobs": side_jobs,
            **{f"q.{name}.jobs": query_jobs(name) for name in QUERIES},
            **{f"m.{name}.jobs_per_batch": jobs_per_batch(name) for name in maintainers.MAINTAINERS},
        },
    }
