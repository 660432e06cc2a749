"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

The LAST stdout line is ONE compact JSON line (the driver captures only
a 2,000-char tail, so this line must stay small):
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Diagnostics that would blow that budget — the two-SF scaling probe,
streaming throughput, per-query deltas vs the previous round — print as
their OWN earlier JSON lines and are also written to BENCH_LOCAL.json
next to this file for post-hoc reading.

Execution is forced through the noop sink (full computation, all rows
consumed, no driver collect overhead). A small warmup query runs first
so JVM/codegen startup isn't billed to the first headline query.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench_eventlog import StageRecorder, min_of_2, noop  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline timings for these ride the tokenized-corpus memo pre-warmed
# by the retrieval_stage_sharing diagnostic (which runs first so its
# cold pass is genuinely cold); their cold costs live in that block.
WARM_MEMO_QUERIES = ("qt17_bm25_scores", "qr01_hybrid_search", "qr02_prf_expansion")


#: (diagnostics key, final-line key, rate key) of the stream blocks
STREAM_KEYS = (
    ("streaming", "alerts_per_sec", "alerts_per_sec"),
    ("streaming_curation", "curation_docs_per_sec", "docs_per_sec"),
    ("streaming_cep", "cep_events_per_sec", "events_per_sec"),
    ("streaming_near_dedup", "near_dedup_docs_per_sec", "docs_per_sec"),
    ("streaming_entity_resolution", "er_records_per_sec", "records_per_sec"),
    ("streaming_skyline", "skyline_parts_per_sec", "parts_per_sec"),
    ("streaming_topk", "topk_orders_per_sec", "orders_per_sec"),
    ("streaming_reservoir", "reservoir_docs_per_sec", "docs_per_sec"),
)


def calibration_probe(spark) -> dict:
    """Host-load canary (round-14 VERDICT ask #2): a FIXED synthetic
    workload — 10M-row xxhash64 + two-level aggregate over
    ``spark.range`` — timed min-of-3, independent of SF, data on disk,
    and any code under test. Identical code on an idle vs contended
    box moves this number with the contention (the r13 driver boot ran
    the same tree 2.5x slower than the round-close boot; only a
    same-boot A/B kept the round gradeable), so every BENCH emission
    now carries its own noise denominator: compare rounds as
    headline_total / calibration_sec, not raw seconds. Runs at bench
    START and again at END; the reported ``calibration_sec`` is the
    min across both (the machine's best observed capability this
    boot), and the start/end spread exposes in-run contention drift."""
    runs = [_canary_workload(spark, 10_000_000) for _ in range(3)]
    return {"min_sec": min(runs), "runs": runs}


def _canary_workload(spark, rows: int) -> float:
    """Seconds for one run of the canary workload over ``rows`` ids."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    noop(
        spark.range(0, rows, 1, 32)
        # bounded residues, not raw hashes: summing 10M raw
        # 64-bit values overflows BIGINT under ANSI mode
        .select(F.pmod(F.xxhash64("id"), F.lit(1_000_003)).alias("h"))
        .groupBy((F.col("h") % 1024).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    )
    return round(time.perf_counter() - t0, 4)


# In-run host-load samples from mini_canary: (label, sec) per sample.
# Round 16: the r15 driver boot ran every query AND stream ~3x slower
# than the same-tree close run while BOTH endpoint calibrations stayed
# quiet (0.3706 vs close 0.3302) — minute-scale external contention hit
# only the MIDDLE of the run, exactly the window the start/end probes
# cannot see. These samples make a contended middle visible in the
# emission itself instead of requiring a forensic same-boot re-run.
_CANARY_SAMPLES: list[tuple[str, float]] = []


def mini_canary(spark, label: str) -> float:
    """One ~50-100ms sample of the calibration workload at 1/5 size
    (2M rows, same expression shape), single-run — cheap enough to
    interleave after every headline query and before every stream
    block (~55 samples ≈ +4s total). A quiet box holds these flat;
    the r13/r15-style contention spikes move them 3-10x."""
    sec = _canary_workload(spark, 2_000_000)
    _CANARY_SAMPLES.append((label, sec))
    return sec


def _canary_summary() -> dict:
    # baseline:* samples (taken right after the endpoint calibration
    # probes, i.e. at the boot's best observed moments) provide the
    # mini probe's own quiet reference — the mini workload is
    # overhead-bound, so its quiet value is ~0.5-0.7x the FULL probe,
    # not 1/5; read p50/max against baseline_min_sec, not against
    # calibration_sec.
    secs = sorted(s for lbl, s in _CANARY_SAMPLES if not lbl.startswith("baseline:"))
    base = [s for lbl, s in _CANARY_SAMPLES if lbl.startswith("baseline:")]
    if not secs:
        return {}
    p50 = secs[len(secs) // 2]
    return {
        "baseline_min_sec": min(base) if base else None,
        "note": "single-run 2M-row probe interleaved after every "
        "headline query and before every stream block; flat samples "
        "= quiet boot, a contended window shows as a spiked span — "
        "read alongside calibration.start/end (which only see the "
        "endpoints; the r15 driver boot was quiet at both endpoints "
        "and ~3x contended in between)",
        "n": len(secs),
        "p50_sec": p50,
        "max_sec": secs[-1],
        "samples": [[lbl, s] for lbl, s in _CANARY_SAMPLES],
    }


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from event_stream_aggr_spark.plans.registry import load_all
    from event_stream_aggr_spark.session import get_spark
    from event_stream_aggr_spark.tables import load_table

    # The UI stays off, as in tests: per-query stage metrics come from
    # the session's own event log, read once spark.stop() closes it.
    rec = StageRecorder()
    spark = get_spark(app_name="bench", extra_conf=rec.conf())
    specs = load_all()
    headline = [name for name, spec in sorted(specs.items()) if spec.bench]

    # warmup: JVM + codegen + parquet footer caches
    load_table(spark, SF_DIR, "region").count()
    noop(specs[headline[0]].fn(spark, SF_DIR))

    # host-load canary, start-of-bench sample (see calibration_probe)
    calib_start = calibration_probe(spark)
    for _ in range(3):  # the mini probe's quiet reference (same boot)
        mini_canary(spark, "baseline:start")

    # The retrieval-stage-sharing diagnostic runs BEFORE the headline
    # loop so its "cold" pass is genuinely cold; the headline timings
    # of qt17/qr01/qr02 (added to the set in round 6) then ride the
    # warmed memo — the composed-pipeline cost a real session pays.
    sharing = retrieval_stage_sharing(spark, specs)

    # min-of-2 per query (new in round 4; earlier rounds were
    # single-run): the min is the standard low-noise estimator of a
    # query's true cost — single-run timings on this box swing ±25-65%
    # with JIT/GC/IO timing, which drowned the per-query deltas.
    # The methodology change is flagged in the output so cross-round
    # comparisons read min-of-2 vs r≤3's single-run accordingly.
    timings: dict[str, float] = {}
    stage_metrics: dict[str, dict] = {}
    for name in headline:
        group = f"headline:{name}"
        timings[name] = min_of_2(
            spark, lambda: noop(specs[name].fn(spark, SF_DIR)), group
        )
        stage_metrics[name] = rec.later({}, group)
        mini_canary(spark, name)

    total = round(sum(timings.values()), 4)
    # filled in after spark.stop(), when the event log is complete
    stage_block = {
        "note": "executor-reported bytes per headline query (warm "
        "run), from the session's event log (job group per query, UI "
        "off); zero spill everywhere means no partition outgrew memory "
        "at this SF",
    }
    diagnostics = {
        "scaling": scaling_probe(spark, specs, headline, timings),
        "scaling_up": upscale_probe(spark, rec, specs, headline, timings),
        "skew": skew_probe(spark, rec, specs),
        "retrieval_stage_sharing": sharing,
        # streaming rates are median-of-3 (r8 VERDICT ask #5: the
        # min-of-2 estimator showed 1.5-2x in-session spread, making
        # round deltas uninterpretable); every run's rate is recorded
        # so the spread itself stays visible
        "streaming": median_of_3_stream(
            stream_bench, spark, rate_key="alerts_per_sec"
        ),
        "streaming_curation": _budget_block(
            spark,
            curation_stage_attribution(spark),
            curation_stream_bench,
            "docs_per_sec",
        ),
        "streaming_cep": median_of_3_stream(
            cep_stream_bench, spark, rate_key="events_per_sec"
        ),
        # the r11 near-dup gate (paired in vs_prev; r13: stage budget
        # — the slowest stream once ER doubled)
        "streaming_near_dedup": _budget_block(
            spark,
            near_dedup_stage_attribution(spark),
            near_dedup_stream_bench,
            "docs_per_sec",
        ),
        # the r12 ER gate (paired in vs_prev from r13; stage budget
        # in _er_block per r12 VERDICT ask #2)
        "streaming_entity_resolution": _er_block(spark),
        # r12 VERDICT ask #5: the W9/W10 maintainers get bench rows
        "streaming_skyline": median_of_3_stream(
            skyline_stream_bench, spark, rate_key="parts_per_sec"
        ),
        "streaming_topk": median_of_3_stream(
            topk_stream_bench, spark, rate_key="orders_per_sec"
        ),
        # r15: the weighted-reservoir maintainer, priced like W9/W10
        "streaming_reservoir": median_of_3_stream(
            reservoir_stream_bench, spark, rate_key="docs_per_sec"
        ),
        "deltas_vs_prev_round": prev_round_deltas(
            timings, calib_start["min_sec"]
        ),
        "stage_metrics": stage_block,
        # LAST so it survives in the driver's output tail: the paired
        # same-boot A/B vs the previous round-close commit (r9 ask #2)
        "vs_prev_same_boot": vs_prev_same_boot(spark, specs, headline),
    }
    calib_end = calibration_probe(spark)
    for _ in range(3):
        mini_canary(spark, "baseline:end")
    during = _canary_summary()
    diagnostics["calibration"] = {
        "note": "fixed 10M-row synthetic agg, min-of-3 at bench start"
        " and end; read cross-boot totals as value/calibration_sec —"
        " a contended host moves both together (r14 VERDICT ask #2)",
        "start": calib_start,
        "end": calib_end,
        # r16: in-run samples — the r15 driver boot was quiet at both
        # endpoints yet ~3x contended through the middle; these catch
        # exactly that window (see mini_canary/_canary_summary)
        "during": during,
    }
    spark.stop()
    rec.resolve()
    per_query = {n: m for n, m in stage_metrics.items() if m}
    stage_block["totals"] = {
        "shuffle_write_mb": round(
            sum(m["shuffle_write_mb"] for m in per_query.values()), 1
        ),
        "input_mb": round(sum(m["input_mb"] for m in per_query.values()), 1),
        "spill_disk_mb": round(
            sum(m["spill_disk_mb"] for m in per_query.values()), 1
        ),
        "queries_with_spill": sorted(
            n
            for n, m in per_query.items()
            if m["spill_disk_mb"] > 0 or m["spill_mem_mb"] > 0
        ),
    }
    stage_block["per_query"] = per_query
    for key, payload in diagnostics.items():
        print(json.dumps({key: payload}))
    headline_line = {
        "metric": "headline_queries_total",
        "value": round(total, 2),
        "unit": "sec",
        "sf": infer_sf(SF_DIR),
        "method": "min_of_2",  # batch timings; streaming is median_of_3
        # host-load canary: min across start+end min-of-3 samples of a
        # fixed synthetic workload — divide totals by this before
        # comparing across boots (README "Reading bench output")
        "calibration_sec": min(
            calib_start["min_sec"], calib_end["min_sec"]
        ),
        # r16: [baseline_min, p50, max] of the ~55 in-run 2M-row canary
        # samples (a small single-run probe interleaved after every
        # headline query and before every stream block; baseline_min =
        # the same probe taken right after the endpoint calibrations,
        # the mini workload's own quiet reference — it is
        # overhead-bound, so do NOT compare to calibration_sec/5). On a
        # quiet boot p50/baseline stays near 1; the r15 driver boot —
        # quiet at both calibration endpoints, ~3x contended in
        # between — is the case this exposes. Full per-sample series in
        # BENCH_LOCAL.json under calibration.during.
        "calib_mid": [
            during.get("baseline_min_sec"),
            during.get("p50_sec"),
            during.get("max_sec"),
        ],
        # the streaming rates ride the (driver-captured) final line,
        # compactly: alert flattening + the curation foreachBatch path
        "stream": {
            short: diagnostics[key].get(rate_key)
            for key, short, rate_key in STREAM_KEYS
        },
        "queries": {n: round(s, 2) for n, s in timings.items()},
        # compact A/B summary (full per-query block in the
        # vs_prev_same_boot diagnostics line / BENCH_LOCAL.json):
        # paired ratios from the same boot, the signal cross-round
        # grading should use instead of cross-boot absolute seconds
        "vs_prev": {
            k: diagnostics["vs_prev_same_boot"].get(k)
            for k in (
                "prev_commit",
                "median_ratio_cur_over_prev",
                "n_compared",
                "stream_ratios",
                "skipped",
                "error",
            )
            if diagnostics["vs_prev_same_boot"].get(k) is not None
        },
    }
    try:
        with open(os.path.join(HERE, "BENCH_LOCAL.json"), "w") as f:
            json.dump({**headline_line, "queries_4dp": timings, **diagnostics}, f, indent=1)
    except OSError:
        pass
    # the driver parses the LAST line only; keep it well under 2,000
    # chars. r15's line ran 2,028 chars — over the documented 2,000
    # tail capture (the driver still parsed it, but don't gamble):
    # stream rates carry ~5 significant digits as ints (the 0.1/s
    # fractional digit is far below the documented 1.5-2x in-session
    # spread; full-precision rates stay in BENCH_LOCAL.json).
    headline_line["stream"] = {
        k: (int(round(v)) if isinstance(v, float) else v)
        for k, v in headline_line["stream"].items()
    }
    print(json.dumps(headline_line))


#: stage-metric subsets the probes report beside their timings
_SHUFFLE_SPILL = ("shuffle_write_mb", "spill_disk_mb")
_SHUFFLE_SPILLS = ("shuffle_write_mb", "spill_disk_mb", "spill_mem_mb")


def scaling_probe(spark, specs, headline, primary_timings) -> dict:
    """Empirical scale-killer detector: re-time the headline set at a
    second (smaller) scale factor and report t(primary)/t(secondary)
    per query. The SFs differ 10x in data, so after subtracting fixed
    per-query overhead a linear operator shows a ratio well under 10;
    a ratio approaching or exceeding the data ratio flags super-linear
    work (e.g. a quadratic candidate join) that the plan audit can't
    measure. Ratios are noisy for sub-100ms queries — read large
    ratios on large timings as signal, the rest as startup noise."""
    secondary = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if not os.path.isdir(secondary) or os.path.samefile(
        secondary, SF_DIR
    ):
        return {}
    out = {"secondary_sf": infer_sf(secondary), "queries": {}}
    for name in headline:
        # min-of-2, matching the primary timings
        sec = min_of_2(spark, lambda: noop(specs[name].fn(spark, secondary)))
        ratio = round(primary_timings[name] / sec, 2) if sec > 0 else None
        out["queries"][name] = {"sec": sec, "ratio_vs_primary": ratio}
    return out


def upscale_probe(
    spark, rec, specs, headline, primary_timings, top_n: int = 10
) -> dict:
    """The OTHER direction of the scaling probe (round-7 VERDICT ask
    #3): re-time the top-N most expensive headline queries at the
    LARGEST synthesized .scale_probe/sf* dir (see
    tools/make_scale_probe.py: key-shifted replicas, so cardinalities
    genuinely grow) and report t(probe)/t(primary). With data grown
    R× (data_ratio_vs_primary), a linear operator shows well under R
    after fixed overhead; a ratio at/above R flags super-linear work
    the sf0.01 probe was too small to surface. Skipped silently when
    no probe dir has been generated."""
    root = os.path.join(HERE, ".scale_probe")
    candidates = sorted(
        (d for d in (os.listdir(root) if os.path.isdir(root) else [])
         if d.startswith("sf") and os.path.isdir(os.path.join(root, d))),
        key=infer_sf,
    )
    if not candidates:
        return {}
    probe_dir = os.path.join(root, candidates[-1])  # largest synthesized SF
    top = sorted(headline, key=lambda n: -primary_timings[n])[:top_n]
    # Always-probed set (round 15, the r14 verdict's ask #4): the ER
    # blocking compositions ride the official per-round upscale
    # instrument regardless of their primary-SF rank, so their
    # spill-free claims are re-measured every round, not only by the
    # bespoke density grid.
    for must in ("qer01_record_linkage", "qer05_composed_blocking"):
        if must in specs and must not in top:
            top.append(must)
    out = {
        "probe_sf": infer_sf(probe_dir),
        "data_ratio_vs_primary": round(infer_sf(probe_dir) / infer_sf(SF_DIR), 1),
        "note": "primary re-timed back-to-back with the probe run (same"
        " JIT/cache state) — the headline loop ran minutes earlier and"
        " its timings are not warm-for-warm comparable",
        "queries": {},
    }
    for name in sorted(top):
        # fresh primary, same session state as the probe
        base = min_of_2(spark, lambda: noop(specs[name].fn(spark, SF_DIR)))
        group = f"upscale:{name}"
        sec = min_of_2(
            spark, lambda: noop(specs[name].fn(spark, probe_dir)), group
        )
        out["queries"][name] = {
            "sec": sec,
            "primary_sec": base,
            "ratio_vs_primary": round(sec / base, 2) if base > 0 else None,
        }
        # at R× data the spill columns answer the 100 TB question
        # directly: did any partition outgrow memory once the data
        # actually grew?
        rec.later(out["queries"][name], group, keys=_SHUFFLE_SPILLS)
    return out


def prev_round_deltas(
    timings: dict[str, float], calib_sec: float | None = None
) -> dict:
    """Per-query change vs the most recent usable driver-recorded
    BENCH_r*.json (positive pct = slower than last round). Rounds whose
    ``parsed`` is null (e.g. r03's tail-truncated capture) are skipped
    in favor of the newest round that actually has per-query numbers.
    Run-to-run variance on this box is ~±25%, so only large deltas are
    signal.

    ``calib_sec`` (round 15, the ledger's calibration-normalizer item):
    when this run's start-of-bench calibration and the baseline file's
    ``calibration_sec`` are both available, ``pct_calibration_normalized``
    restates each delta on sec/calibration ratios — dividing out the
    uniform host/VM-contention shift the raw cross-boot pct conflates
    with plan changes. Same-boot paired A/Bs remain the authoritative
    comparison; this is the cross-boot reading aid."""
    import glob
    import re

    numbered = []
    for p in glob.glob(os.path.join(HERE, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m:  # ignore stray non-round files (BENCH_rerun.json etc.)
            numbered.append((int(m.group(1)), p))
    for _, path in sorted(numbered, reverse=True):
        try:
            with open(path) as f:
                parsed = json.load(f).get("parsed") or {}
            prev = parsed.get("queries") or {}
            prev_calib = parsed.get("calibration_sec")
        except (OSError, json.JSONDecodeError, AttributeError, TypeError):
            continue
        if not prev:
            continue
        out = {
            "baseline": os.path.basename(path),
            "warm_memo_queries": sorted(WARM_MEMO_QUERIES),
            "warm_memo_note": "these queries' headline timings ride the"
            " tokenized-corpus memo pre-warmed by the"
            " retrieval_stage_sharing diagnostic (since r6) — their"
            " cross-round deltas vs r<=5 partly reflect that"
            " measurement-protocol change, not query-cost improvements;"
            " cold costs are in retrieval_stage_sharing.cold_sec",
            "method_note": "r4+ times are min-of-2; r<=3 were single-run"
            " (negative deltas partly reflect the lower-noise estimator)."
            " Rounds run on the same box but not the same boot: a"
            " UNIFORM cross-round shift (every query moves the same"
            " direction by a similar factor) is host/VM state, not a"
            " plan change — read per-query deltas relative to the"
            " round's overall shift.",
            "pct": {},
        }
        for name, sec in timings.items():
            if name in prev and prev[name] > 0:
                out["pct"][name] = round(100.0 * (sec - prev[name]) / prev[name], 1)
        if calib_sec and prev_calib:
            # restate on sec/calibration ratios: a uniform host shift
            # moves every raw pct but cancels out of this column
            ratio = calib_sec / prev_calib
            out["calibration_ratio_cur_over_prev"] = round(ratio, 4)
            out["pct_calibration_normalized"] = {
                name: round(
                    100.0 * (timings[name] / (prev[name] * ratio) - 1.0), 1
                )
                for name in out["pct"]
            }
        return out
    return {}


#: join/window headliners whose key the Zipf probe skews (round-7
#: VERDICT ask #1): the fact-join trio on l_orderkey/o_custkey and the
#: per-user window/groupBy trio on user_id.
SKEW_QUERIES = (
    "q04_join_revenue_by_segment",
    "q45_shipping_priority",
    "q58_volume_shipping",
    "q09_topn_per_group",
    "q10_running_totals",
    "qf01_user_feature_matrix",
)


def skew_probe(spark, rec, specs) -> dict:
    """Round-7 VERDICT ask #1: the 10× probe is uniform, but the named
    100 TB killer is a Zipf-skewed join/group key. Re-time the skewed
    headliners on the same-SIZE Zipf(1.1) twin of sf0.1 (hot order =
    ~10% of all lineitems, hot customer/user similar — see
    tools/make_scale_probe.py --zipf) and record, per query: the
    time ratio vs uniform, per-task max/median time of the heaviest
    stage, AQE skew-split activation, shuffle bytes and spill. Then
    the explicit-mitigation twin: a shuffle-forced orders⋈lineitem
    revenue rollup run (a) AQE skew-split ON, (b) both mitigations
    OFF (the unmitigated straggler), (c) operators/skew.py's
    salted_join with AQE OFF — (a) and (c) must restore balance over
    (b). Skipped silently when the zipf dir hasn't been generated."""
    zdir = os.path.join(HERE, ".scale_probe", "zipf1")
    udir = os.path.join(HERE, ".scale_probe", "sf1")
    if not (os.path.isdir(zdir) and os.path.isdir(udir)):
        # visible skip, not a silent {} — a fresh workspace must know
        # the probe data is generatable, not that skew was unmeasured
        return {
            "skipped": "probe dirs missing; generate with "
            "`python tools/make_scale_probe.py 10` then "
            "`python tools/make_scale_probe.py --zipf`"
        }
    out: dict = {
        "alpha": 1.1,
        "zipf_dir_sf": 1.0,
        "note": "zipf twin is the SAME row count as the uniform sf1"
        " replica probe (hot order carries ~9% of ALL 6M lineitems) -"
        " ratio vs uniform isolates key-skew cost from data volume;"
        " task_imbalance = max/median executorRunTime of the heaviest"
        " stage",
        "queries": {},
    }
    for name in SKEW_QUERIES:
        u = min_of_2(spark, lambda: noop(specs[name].fn(spark, udir)))
        group = f"skew:{name}"
        z = min_of_2(spark, lambda: noop(specs[name].fn(spark, zdir)), group)
        out["queries"][name] = rec.later(
            {
                "uniform_sec": u,
                "zipf_sec": z,
                "ratio_zipf_vs_uniform": round(z / u, 2) if u > 0 else None,
            },
            group,
            keys=_SHUFFLE_SPILL,
            tasks=True,
            skew=True,
        )
    # the window-skew mitigation twin: the plain per-key cumulative
    # window (q10 — the probe's one real victim, hot key's history
    # serialized through one task) vs qz06's staged decomposition
    # (within-day chains + day-grain prefix stitch), both on the Zipf
    # twin. Same values (qz06's oracle IS the plain window); what
    # differs is where the hot key's work lands. qz08 is the r9
    # AUTO-selecting helper: on this Zipf twin its key-skew stats must
    # route it to the staged form (task balance ~ qz06's), while on
    # uniform data it takes the plain window's cheaper single pass.
    out["window_twin"] = {}
    for name in (
        "q10_running_totals",
        "qz06_staged_running_total",
        "qz08_running_total_auto",
    ):
        group = f"window_twin:{name}"
        sec = min_of_2(spark, lambda: noop(specs[name].fn(spark, zdir)), group)
        out["window_twin"][name] = rec.later(
            {"sec": sec}, group, keys=_SHUFFLE_SPILL, tasks=True
        )
    out["salted_twin"] = _salted_twin(spark, rec, zdir)
    return out


def _salted_twin(spark, rec, zdir: str) -> dict:
    """The orders⋈lineitem revenue rollup on the Zipf twin with the
    broadcast escape hatch closed (at 100 TB neither side broadcasts),
    across the three mitigation settings. Each variant reports time,
    task max/median of the heaviest stage, and row count (all three
    must agree — salting must not change the result)."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import (
        auto_skew_join,
        join_skew_strategy,
        salted_join,
    )
    from event_stream_aggr_spark.tables import load_table

    def revenue(joined):
        return joined.groupBy("o_orderpriority").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            )
        )

    def build(mode: str):
        li = load_table(spark, zdir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, zdir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        if mode == "salted":
            # salt sized to the observed max/median partition ratio
            # (~4x — qz04's skew planner recommendation shape), so the
            # right-side replication cost stays proportional to the
            # imbalance it removes
            return revenue(salted_join(li, o, "l_orderkey", salt=4))
        if mode == "auto":
            # the deployable default (qz09): since the round-11
            # re-price the selector credits an armed AQE skew-split —
            # under the aqe-on variant it must route this in-capacity
            # Zipf key to PLAIN and match plain_aqe_skewjoin's time
            # and balance; under the aqe-off variant it must fall back
            # to the excess-sized salt
            return revenue(auto_skew_join(li, o, "l_orderkey"))
        return revenue(li.join(o, "l_orderkey"))

    # the defaults (256 MB / 5x) are sized for cluster executors; at
    # this probe's ~100 MB total shuffle the hot partition is ~20 MB,
    # so scale the trigger down proportionally — the 100 TB deployment
    # uses the defaults, what's demonstrated here is the MECHANISM
    # splitting the straggler partition
    scaled_trigger = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    }
    conf = spark.conf
    results: dict = {}
    with _conf_fence(spark) as fence:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for label, mode, skew_on in (
            ("plain_aqe_skewjoin", "plain", "true"),
            ("plain_unmitigated", "plain", "false"),
            ("salted_join", "salted", "false"),
            ("auto_join", "auto", "true"),
            ("auto_join_aqe_off", "auto", "false"),
        ):
            conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
            for k, v in scaled_trigger.items():
                conf.set(k, v if skew_on == "true" else fence.saved[k])
            group = f"salted:{label}"
            results[label] = rec.later(
                {
                    "sec": min_of_2(spark, lambda: noop(build(mode)), group),
                    "n_groups": build(mode).count(),
                },
                group,
                keys=_SHUFFLE_SPILL,
                tasks=True,
                skew=label == "plain_aqe_skewjoin",
            )
            # record the auto selector's actual decision UNDER THIS
            # VARIANT'S CONF (the r11 selector reads the AQE confs) so
            # a threshold regression is visible in the artifact, not
            # just in the timing: aqe-on must say plain (the credit),
            # aqe-off must say salted with the excess-sized count
            if mode == "auto":
                t0 = time.perf_counter()
                choice, k = join_skew_strategy(
                    load_table(spark, zdir, "lineitem").select("l_orderkey"),
                    "l_orderkey",
                )
                # the auto rows' sec INCLUDES this one-shot count-per-key
                # pass on every timed run (pricing is part of the
                # deployable default's cost); recording it separately
                # lets the reader see auto = selected plan + stats pass
                # — callers amortize it with stats=(mx, total) or by
                # checkpointing the probe side
                results[label]["strategy"] = {
                    "choice": choice,
                    "salt": k,
                    "stats_pass_sec": round(time.perf_counter() - t0, 4),
                }
    results["note"] = (
        "the mitigation target is TASK BALANCE, not wall-clock at this"
        " probe size (the unmitigated straggler is only ~0.5s; at 100 TB"
        " it scales with hot-key volume while the balanced variants"
        " scale with volume/parallelism): AQE skew-split cuts"
        " max/median task time ~3.8x -> ~1.4x with zero extra shuffle;"
        " salted_join achieves the same balance at the cost of"
        " replicating the right side x salt. auto_join (qz09, r11"
        " re-price) credits the armed backstop: with AQE skew-split on"
        " and the hot key within advisory x parallelism it rides the"
        " plain+AQE plan (strategy must say plain; sec ="
        " plain_aqe_skewjoin's plan + the one-shot stats pass recorded"
        " in strategy.stats_pass_sec, amortizable via stats=(mx,"
        " total)); auto_join_aqe_off proves the fallback still fires —"
        " same stats pass, backstop disarmed, salted with the"
        " excess-sized count"
    )
    return results


def retrieval_stage_sharing(spark, specs) -> dict:
    """r5 VERDICT ask #5 evidence: qt17/qr01/qr02 share the memoized
    tokenized-corpus stage (operators/text.py:tokenized_corpus), so a
    composed retrieval path pays the corpus tokenize ONCE per
    session/corpus. Pass 1 runs the triple cold (the first query
    materializes the stage); pass 2 re-runs it warm — every query
    after the first, in BOTH passes, reads the materialized token
    arrays instead of re-scanning + re-splitting the corpus."""
    names = WARM_MEMO_QUERIES
    out: dict = {"cold_sec": {}, "warm_sec": {}}
    for key in ("cold_sec", "warm_sec"):
        for n in names:
            t0 = time.perf_counter()
            specs[n].fn(spark, SF_DIR).write.mode("overwrite").format(
                "noop"
            ).save()
            out[key][n] = round(time.perf_counter() - t0, 4)
    out["note"] = (
        "corpus tokenize paid once per session: cold pass's first query"
        " includes the one-time stage materialization; all later"
        " retrieval queries (both passes) reuse it"
    )
    return out


def median_of_3_stream(fn, spark, rate_key: str) -> dict:
    """Run a streaming bench three times and report the MEDIAN-rate
    run with every observed rate kept visible (round-8 VERDICT ask #5:
    min-of-2 streaming rates showed 1.5-2x in-session spread —
    30.5k→48.7k alerts/s on identical code — so two-sample minima made
    round-over-round deltas uninterpretable; the median of three is
    robust to one cold/JIT outlier in either direction, and the
    per-run list lets the reader judge the remaining spread)."""
    mini_canary(spark, f"stream:{getattr(fn, '__name__', rate_key)}")
    runs = [fn(spark) for _ in range(3)]
    ranked = sorted(runs, key=lambda r: r.get(rate_key) or 0.0)
    best = dict(ranked[len(ranked) // 2])
    best["method"] = "median_of_3"
    best[f"runs_{rate_key}"] = [r.get(rate_key) for r in runs]
    return best


def _stream_rate(
    spark,
    source,
    sink,
    count_key: str,
    rate_key: str,
    *,
    parts: int = 16,
    files_per_trigger: int = 8,
    available_now: bool = True,
    schema=None,
    units_per_row: int = 1,
    after=None,
) -> dict:
    """One timed stream run, the body every stream bench shares.
    ``source`` (a DataFrame) lands as ``parts`` parquet files in a
    fresh work dir and is replayed ``files_per_trigger`` at a time
    (read with ``schema``, default the stored one) through
    ``sink(stream, work)`` — a DataStreamWriter carrying the sink and
    output mode — with a fresh checkpoint, drained by an availableNow
    trigger or, when ``available_now`` is False, by
    processAllAvailable. The rate counts INPUT rows (× ``units_per_row``)
    so a gate's drop rate can't inflate it; ``after(work)`` adds
    post-run fields read from the work dir before it is deleted.
    Engine modules are imported at call time, so the vs_prev pairs'
    module swap reaches them."""
    from event_stream_aggr_spark.sources.files import stream_parquet_dir

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        src, stored, n = _land_source(spark, source, work, parts)
        stream = stream_parquet_dir(
            spark, src, schema or stored, max_files_per_trigger=files_per_trigger
        )
        t0 = time.perf_counter()
        _drain(
            sink(stream, work), os.path.join(work, "_ckpt"), available_now
        )
        elapsed = time.perf_counter() - t0
        return {
            count_key: n,
            **(after(work) if after else {}),
            "sec": round(elapsed, 4),
            rate_key: round(n * units_per_row / elapsed, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _land_source(spark, source, work: str, parts: int) -> tuple[str, object, int]:
    """``source`` written as ``parts`` parquet files under ``work/src``:
    (dir, stored schema, row count)."""
    src = os.path.join(work, "src")
    source.repartition(parts).write.mode("overwrite").parquet(src)
    return src, spark.read.parquet(src).schema, spark.read.parquet(src).count()


def _drain(writer, ckpt: str, available_now: bool = True) -> None:
    """Start ``writer`` (a DataStreamWriter) on a fresh checkpoint and
    run it until the source is drained."""
    writer = writer.option("checkpointLocation", ckpt)
    if available_now:
        writer.trigger(availableNow=True).start().awaitTermination()
    else:
        q = writer.start()
        q.processAllAvailable()
        q.stop()


def stream_bench(spark, n_events: int = 20_000, metrics_per_event: int = 3) -> dict:
    """Streaming throughput of the reference-parity alert pipeline
    (events/s as the reference logs them, app.go:101-109) via the
    hermetic file stream + noop-ish memory sink."""
    from event_stream_aggr_spark.schemas import SENSOR_EVENT_SCHEMA
    from event_stream_aggr_spark.streaming.pipeline import snort_alert_stream

    from tests.fixtures import make_sensor_event

    events = [make_sensor_event(i, metrics_per_event) for i in range(n_events)]
    # batch sizing dominates micro-batch pipelines: 8 files/trigger
    # (2 batches here) amortizes per-batch planning the way
    # maxOffsetsPerTrigger sizing does on Kafka; measured 3-4x over
    # 4-file triggers on this box
    out = _stream_rate(
        spark,
        spark.createDataFrame(events, schema=SENSOR_EVENT_SCHEMA),
        lambda stream, _work: snort_alert_stream(stream).writeStream.format("noop"),
        "input_events",
        "alerts_per_sec",
        available_now=False,
        schema=SENSOR_EVENT_SCHEMA,
        units_per_row=metrics_per_event,
    )
    out["alerts_out"] = n_events * metrics_per_event
    return out


def curation_stream_bench(spark) -> dict:
    """Streaming-curation throughput: documents through the registered
    gate → span-dedup → reassembly → exact-dedup dataflow
    (operators.dedup.curation_clean, qd13's lineage) plus qp01's pack
    assignment, per micro-batch via foreachBatch — the ingest-time
    curation shape where each arriving shard is gated, span-deduped
    and packed before landing. Within-batch dedup scope is the
    micro-batch (cross-batch redelivery dedupe is
    streaming/pipeline.py's snort_alert_stream(dedupe=True)); docs/s
    counts INPUT documents so the gate's drop rate doesn't inflate the
    number."""
    from event_stream_aggr_spark.operators.dedup import curation_clean
    from event_stream_aggr_spark.operators.packing import pack_assignments
    from event_stream_aggr_spark.tables import load_table

    def run_batch(batch_df, _batch_id):
        cleaned = curation_clean(batch_df.select("doc_id", "text"))
        packed = pack_assignments(
            cleaned.join(
                batch_df.select("doc_id", "source"), "doc_id"
            ).withColumnRenamed("clean_text", "text")
        )
        noop(packed)

    return _stream_rate(
        spark,
        load_table(spark, SF_DIR, "documents").select("doc_id", "source", "text"),
        lambda stream, _work: stream.writeStream.foreachBatch(run_batch),
        "input_docs",
        "docs_per_sec",
    )


def _er_source(spark):
    """The ER arrival stream: customers and their derived second-source
    twins interleaved as one record shape."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.linkage import _a_side, _twin_side

    def side(df, p):
        return df.select(
            F.col(f"{p}_id").alias("rec_id"),
            F.col(f"{p}_name").alias("name"),
            F.col(f"{p}_seg").alias("seg"),
            F.col(f"{p}_bal").cast("double").alias("bal"),
            F.col(f"{p}_nation").alias("nation"),
        )

    return side(_a_side(spark, SF_DIR), "a").unionByName(
        side(_twin_side(spark, SF_DIR), "b")
    )


def er_stream_bench(spark, blocking: str | None = None) -> dict:
    """Streaming entity-resolution gate throughput (round 12,
    streaming/linkage.py): customers and their derived second-source
    twins interleaved as one arrival stream through the canonical-
    registry foreachBatch — per epoch: blocked scoring against the
    registry, within-batch connected components, registry fold.
    records/s counts INPUT records. Fresh state root + checkpoint per
    run so every run pays the same empty-registry start. ``blocking``
    forwards to the sink when given; None means the ENGINE's default —
    which keeps the vs_prev pairing default-vs-default when the live
    harness drives the prev round's sink (whose option surface may
    not know the live default's name)."""
    from event_stream_aggr_spark.streaming.linkage import entity_resolution_sink

    def sink(stream, work):
        return stream.writeStream.foreachBatch(
            entity_resolution_sink(
                os.path.join(work, "state"),
                os.path.join(work, "out"),
                **({} if blocking is None else {"blocking": blocking}),
            )
        )

    def entities(work):
        out = spark.read.parquet(os.path.join(work, "out", "epoch=*"))
        return {"n_entities": out.filter("is_new").count()}

    out = _stream_rate(
        spark,
        _er_source(spark),
        sink,
        "input_records",
        "records_per_sec",
        parts=8,
        files_per_trigger=4,
        after=entities,
    )
    out["n_linked"] = out["input_records"] - out["n_entities"]
    return out


def near_dedup_stream_bench(spark) -> dict:
    """Streaming near-dedup gate throughput (round 11,
    streaming/near_dedup.py): documents replayed as micro-batches
    through the band-store foreachBatch — MinHash banding + bucket
    joins against the admitted corpus + store fold per epoch. docs/s
    counts INPUT documents (the gate's drop rate must not inflate the
    number). Fresh state root + checkpoint per run so every run pays
    the same empty-store start; kept output goes to the work dir."""
    from event_stream_aggr_spark.streaming.near_dedup import near_dedup_sink
    from event_stream_aggr_spark.tables import load_table

    return _stream_rate(
        spark,
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        lambda stream, work: stream.writeStream.foreachBatch(
            near_dedup_sink(os.path.join(work, "state"), os.path.join(work, "out"))
        ),
        "input_docs",
        "docs_per_sec",
        after=lambda work: {
            "kept_docs": spark.read.parquet(
                os.path.join(work, "out", "epoch=*")
            ).count()
        },
    )


def _maintainer_rate(spark, source, make_sink, count_key, rate_key, state_key=None):
    """A state-store maintainer's stream rate: ``make_sink(state_root)``
    folds every micro-batch under a fresh ``work/state`` root (the
    same empty-store start discipline as the ER/near-dedup benches);
    ``state_key`` reports the folded state's row count."""

    def state_rows(work):
        from event_stream_aggr_spark.streaming.state_store import read_state

        state, _ = read_state(spark, os.path.join(work, "state"))
        return {state_key: state.count() if state is not None else 0}

    return _stream_rate(
        spark,
        source,
        lambda stream, work: stream.writeStream.foreachBatch(
            make_sink(os.path.join(work, "state"))
        ),
        count_key,
        rate_key,
        after=state_rows if state_key else None,
    )


def skyline_stream_bench(spark) -> dict:
    """Streaming skyline maintainer throughput (round-12 VERDICT ask
    #5: W9 had equivalence/chaos tests but no bench row): part rows
    replayed as micro-batches through ``skyline_sink`` — per epoch:
    point collapse, union with the stored frontier, O(n log n) sweep,
    store fold. parts/s counts INPUT part rows."""
    from event_stream_aggr_spark.streaming.skyline import skyline_sink
    from event_stream_aggr_spark.tables import load_table

    return _maintainer_rate(
        spark,
        load_table(spark, SF_DIR, "part").select("p_brand", "p_retailprice", "p_size"),
        skyline_sink,
        "input_parts",
        "parts_per_sec",
        "frontier_points",
    )


def topk_stream_bench(spark) -> dict:
    """Streaming exact top-k maintainer throughput (round-12 VERDICT
    ask #5: W10's bench-row gap, same as skyline): orders replayed as
    micro-batches through ``topk_sink`` — per epoch: batch prune to
    k, union with stored leaderboard, re-prune, store fold. orders/s
    counts INPUT orders."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.streaming.topk import topk_sink
    from event_stream_aggr_spark.tables import load_table

    return _maintainer_rate(
        spark,
        load_table(spark, SF_DIR, "orders").select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        ),
        topk_sink,
        "input_orders",
        "orders_per_sec",
    )


def reservoir_stream_bench(spark) -> dict:
    """Streaming weighted-reservoir maintainer throughput (round 15:
    same pricing discipline as the W9/W10 maintainers — a shipped
    stream sink gets a bench row, not just equivalence/chaos tests):
    documents replayed as micro-batches through
    ``weighted_reservoir_sink`` — per epoch: narrow per-row E-S key
    scoring (no shuffle), union with the stored per-stratum sample,
    window top-R on the strata key (one exchange), store fold.
    docs/s counts INPUT documents."""
    from event_stream_aggr_spark.streaming.reservoir import weighted_reservoir_sink
    from event_stream_aggr_spark.tables import load_table

    return _maintainer_rate(
        spark,
        load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "n_chars"),
        lambda root: weighted_reservoir_sink(root, r=64),
        "input_docs",
        "docs_per_sec",
        "sample_rows",
    )


def cep_stream_bench(spark) -> dict:
    """Stateful-streaming throughput: raw events through the
    applyInPandasWithState CEP matcher (q74's streaming twin,
    streaming/stats.py:cep_match_with_state) — the per-key
    arbitrary-state path (W5), measured as INPUT events/s so match
    selectivity doesn't inflate the number."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.streaming.stats import cep_match_with_state
    from event_stream_aggr_spark.tables import load_table

    tsm = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    return _stream_rate(
        spark,
        load_table(spark, SF_DIR, "events").select(
            "event_id", "event_type", "user_id", F.expr(tsm).alias("tsm")
        ),
        lambda stream, _work: cep_match_with_state(stream)
        .writeStream.format("noop")
        .outputMode("update"),
        "input_events",
        "events_per_sec",
    )


def _stage_budget(
    spark,
    source,
    prefixes,
    note: str,
    *,
    real_sink=None,
    parts: int = 16,
    files_per_trigger: int = 8,
) -> dict:
    """Cumulative-prefix stage budget of a foreachBatch stream, covering
    the WHOLE micro-batch rather than just the transform body. Every
    row is a FULL STREAM RUN — same parquet source (``source`` as
    ``parts`` files), same availableNow trigger and files per trigger,
    fresh checkpoint — whose foreachBatch body is a cumulative PREFIX
    of the real one; median-of-3 per row (the headline rate's
    estimator), reported as ``cumulative_sec`` and ``marginal_sec``.

    ``prefixes`` are ``(name, body(batch, state))``. A warm run goes
    first — otherwise the first-timed prefix absorbs JIT/codegen/
    footer-cache cost and the marginals come out inverted. A stateless
    pipeline warms with its last prefix, whose ``state`` is None. A
    STATEFUL sink (``real_sink(state_root, out_dir)`` → foreachBatch
    body scoring each epoch against what earlier epochs folded) needs
    one addition: the warm run is the REAL sink, recording per epoch
    the state that epoch read (``state_snap/epoch=N``), and each
    prefix body gets that snapshot as ``state`` — the protocols are
    deterministic, so every prefix reproduces the real run's epoch-N
    inputs. A last row, ``checkpoint_writes_fold_commit``, then times
    the REAL sink with fresh state per run (the same empty-state start
    the headline pays), so the marginals sum to the full batch cost by
    construction. Snapshot writes stay outside the timed runs."""
    from event_stream_aggr_spark.sources.files import stream_parquet_dir
    from event_stream_aggr_spark.streaming import state_store as ss

    work = tempfile.mkdtemp(prefix="bench_stages_")
    try:
        src, schema, _ = _land_source(spark, source, work, parts)
        snap = os.path.join(work, "state_snap")

        def run_stream(body, tag):
            stream = stream_parquet_dir(
                spark, src, schema, max_files_per_trigger=files_per_trigger
            )
            _drain(
                stream.writeStream.foreachBatch(body),
                os.path.join(work, f"_ckpt_{tag}"),
            )

        def with_state(body):
            def run_batch(batch, eid):
                p = os.path.join(snap, f"epoch={eid}")
                state = batch.sparkSession.read.parquet(p) if os.path.isdir(p) else None
                body(batch, state)

            return run_batch

        if real_sink is None:
            run_stream(with_state(prefixes[-1][1]), "warm")
        else:
            warm_root = os.path.join(work, "state_warm")
            real = real_sink(warm_root, os.path.join(work, "out_warm"))

            def recording(batch, eid):
                # append-protocol reader (r14): the stores are
                # snapshot+delta stores, not single version dirs
                state, _ = ss.read_append_state(batch.sparkSession, warm_root)
                if state is not None:
                    state.write.mode("overwrite").parquet(
                        os.path.join(snap, f"epoch={eid}")
                    )
                real(batch, eid)

            run_stream(recording, "warm")
        # one body factory per row, called per run: the real sink
        # needs fresh state every run
        rows = [(name, lambda j, b=body: with_state(b)) for name, body in prefixes]
        if real_sink is not None:
            rows.append(
                (
                    "checkpoint_writes_fold_commit",
                    lambda j: real_sink(
                        os.path.join(work, f"state_{j}"), os.path.join(work, f"out_{j}")
                    ),
                )
            )
        out: dict = {}
        prev = 0.0
        for i, (name, make_body) in enumerate(rows):
            runs = []
            for j in range(3):
                body = make_body(j)
                t0 = time.perf_counter()
                run_stream(body, f"{i}_{j}")
                runs.append(time.perf_counter() - t0)
            cum = statistics.median(runs)
            out[name] = {
                "cumulative_sec": round(cum, 4),
                "marginal_sec": round(max(cum - prev, 0.0), 4),
            }
            prev = cum
        out["note"] = note
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _pass_through(batch, state) -> None:
    """The first prefix of every budget: source scan + sink + offset/
    commit-log machinery, plus the state read a stateful epoch pays."""
    if state is not None:  # same scan the real epoch pays
        noop(state)
    noop(batch)


def _budget_block(spark, stages: dict, bench_fn, rate_key: str) -> dict:
    """Headline stream rate (median-of-3) plus its stage budget, with
    ``covers_frac_of_sec`` = the budget's total / the headline ``sec``
    — the round-10 gap was exactly this number sitting at ~0.5 because
    the stages timed only the transform body; the stream-side
    cumulative prefixes now cover the whole batch, so a materially
    sub-1.0 value would mean the budget went stale.

    Callers build ``stages`` FIRST: its warm pass + stream runs leave
    the dataflow JIT-compiled, so the headline median-of-3 that
    follows measures the warm steady state — the same discipline the
    batch headline loop applies (explicit warmup before timing).
    Before this ordering the curation headline's first run was 3-4x
    colder than its third and the median landed on a cold run, which
    is noise, not throughput."""
    block = median_of_3_stream(bench_fn, spark, rate_key=rate_key)
    total = max(
        (
            v.get("cumulative_sec", 0.0)
            for v in stages.values()
            if isinstance(v, dict)
        ),
        default=None,
    )
    if total and block.get("sec"):
        stages["covers_frac_of_sec"] = round(total / block["sec"], 3)
    block["stages"] = stages
    return block


def curation_stage_attribution(spark) -> dict:
    """Round-9 VERDICT ask #6, completed in round 11 (ask #3): the
    curation stream runs ~20x slower per input row than the alert
    stream — attribute that floor to a budget that covers the WHOLE
    micro-batch, not just the transform body (the r10 version timed
    the dataflow batch-side and left ~half the 2.13 s batch — source
    read, sink, micro-batch machinery — unattributed).

    Prefixes (``_stage_budget``): pass-through noop write (source scan
    + sink + offset/commit-log machinery) → + quality gate → + span
    dedup/reassembly → + corpus exact dedup → + source join & pack
    assignment. The LAST prefix IS curation_stream_bench's pipeline
    measured the same way, so ``covers_frac_of_sec`` should sit near
    1.0, off only by the two estimators' noise."""
    from event_stream_aggr_spark.operators.dedup import (
        curation_despan_stage,
        curation_exact_stage,
        curation_quality_stage,
    )
    from event_stream_aggr_spark.operators.packing import pack_assignments
    from event_stream_aggr_spark.tables import load_table

    def p_gate(b):
        return curation_quality_stage(b.select("doc_id", "text"))

    def p_despan(b):
        return curation_despan_stage(p_gate(b))

    def p_exact(b):
        return curation_exact_stage(p_despan(b))

    def p_pack(b):
        return pack_assignments(
            p_exact(b)
            .join(b.select("doc_id", "source"), "doc_id")
            .withColumnRenamed("clean_text", "text")
        )

    def noop_of(build):
        return lambda batch, _state: noop(build(batch))

    return _stage_budget(
        spark,
        load_table(spark, SF_DIR, "documents").select("doc_id", "source", "text"),
        (
            ("source_sink_machinery", _pass_through),
            ("quality_gate", noop_of(p_gate)),
            ("span_dedup_reassembly", noop_of(p_despan)),
            ("corpus_exact_dedup", noop_of(p_exact)),
            ("source_join_pack", noop_of(p_pack)),
        ),
        "every row is a full stream run with a cumulative-prefix"
        " foreachBatch body (median-of-3, fresh checkpoint); the"
        " last cumulative_sec IS the whole curation pipeline, so"
        " marginals cover source+sink+machinery and all four"
        " transform stages with nothing unattributed",
    )


def near_dedup_stage_attribution(spark) -> dict:
    """Round-13: the stage-budget discipline (curation r11, ER r12-13)
    applied to the near-dedup gate — with the ER gate doubled, this is
    the slowest stream. Stateful, like ``er_stage_attribution``: the
    warm REAL run records the band store each epoch read. Prefixes:
    pass-through noop (+ store read) → + MinHash/banding + both drop
    rules (= band_canonical_dedup vs the snapshot store) → + token-less
    union + kept-rows semi-join (the output assembly) → the REAL sink
    (+ disk checkpoint, output write, store fold, commit)."""
    from event_stream_aggr_spark.operators.dedup import (
        band_canonical_dedup,
        tokenless_ids,
    )
    from event_stream_aggr_spark.operators.lifecycle import free_blocks
    from event_stream_aggr_spark.streaming.near_dedup import near_dedup_sink
    from event_stream_aggr_spark.tables import load_table

    # prefix bodies free the band dataflow's lazy DISK_ONLY
    # generation after their noop write materializes it (round-14
    # ADVICE: 3 timed runs x epochs of leaked blocks otherwise
    # occupy local disk and skew later prefixes' marginals)
    def p_band(batch, store):
        gen: list[int] = []
        _, kept_buckets = band_canonical_dedup(
            batch, seen_buckets=store, gen_out=gen
        )
        noop(kept_buckets)
        free_blocks(batch.sparkSession, gen)

    def p_assemble(batch, store):
        gen: list[int] = []
        _, kept_buckets = band_canonical_dedup(
            batch, seen_buckets=store, gen_out=gen
        )
        kept = (
            kept_buckets.select("doc_id")
            .unionByName(tokenless_ids(batch, "doc_id", "text"))
            .distinct()
        )
        noop(batch.join(kept, "doc_id", "left_semi"))
        free_blocks(batch.sparkSession, gen)

    return _stage_budget(
        spark,
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        (
            ("source_sink_store_read", _pass_through),
            ("minhash_banding_drop_rules", p_band),
            ("tokenless_semijoin_assembly", p_assemble),
        ),
        "stateful-prefix stage budget (the ER method): full stream"
        " runs with cumulative-prefix foreachBatch bodies reading a"
        " recorded per-epoch band-store snapshot; last row is the"
        " REAL sink, so marginals cover machinery, the band"
        " dataflow, output assembly, and the checkpoint/write/"
        "fold tail with nothing unattributed",
        real_sink=near_dedup_sink,
    )


def er_stage_attribution(spark) -> dict:
    """Round-12 VERDICT ask #2: give the streaming ER gate the
    curation treatment — a cumulative-prefix stage budget covering the
    WHOLE micro-batch, then attack the named dominator. The ER sink is
    STATEFUL (each epoch scores against the registry the previous
    epochs folded), so ``_stage_budget`` records the registry each
    epoch read in a warm REAL run and replays it. Prefixes:

    pass-through noop (source scan + sink + offset/commit machinery +
    registry read) → + the auto default's block-grain purge probe
    (round 15: the mode decision priced as its own stage) → + store
    blocking/scoring join (match→min-entity per record) → + within-
    batch scoring + connected components + assignment assembly (probe
    + full link_batch) → the REAL sink (+ disk checkpoint,
    assignment/metrics writes, registry fold, commit).
    The last prefix IS er_stream_bench's pipeline measured the same
    way; ``covers_frac_of_sec`` is the honesty check against the
    median-of-3 headline sec."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.lifecycle import (
        disk_checkpoint_lazy,
        free_blocks,
    )
    from event_stream_aggr_spark.operators.linkage import (
        block_key_counts,
        purged_from_counts,
        scored_pairs,
    )
    from event_stream_aggr_spark.streaming.linkage import (
        FIELDS,
        _as_a,
        _as_b,
        entity_resolution_sink,
        link_batch,
    )

    def recs_ckpt(batch):
        # the real sink's single-source-scan shape (round 15,
        # second half): every prefix body reads the micro-batch
        # through the same lazily DISK_ONLY-marked narrow
        # projection the sink materializes once per epoch
        recs = batch.select(F.col("rec_id"), *[F.col(f) for f in FIELDS])
        return disk_checkpoint_lazy(recs)

    def probe(recs, reg, spark):
        # the auto default's per-epoch purge probe (round 15):
        # block-grain count frames + one collected row — the work
        # the real sink pays BEFORE linking, measured as its own
        # stage so the mode decision's cost is attributed, not
        # buried in the fold/commit tail
        recs_a = _as_a(recs, "rec_id")
        gen: list[int] = []
        try:
            bc, g = disk_checkpoint_lazy(block_key_counts(recs_a, "a"))
            gen += g
            found = purged_from_counts(bc, bc).select(
                F.col("n_purged_p1").alias("batch_purged_p1"),
                F.col("n_purged_p2").alias("batch_purged_p2"),
            )
            if reg is not None:
                sc_, g2 = disk_checkpoint_lazy(
                    block_key_counts(_as_b(reg, "entity_id"), "b")
                )
                gen += g2
                found = purged_from_counts(bc, sc_).crossJoin(F.broadcast(found))
            found.first()
        finally:
            free_blocks(spark, gen)

    def after_probe(extra=None):
        # cumulative: every body runs the probe first (as in the real
        # auto sink), then ``extra(recs, reg, gen)``, whose lazy
        # DISK_ONLY generations join ``gen`` and are freed once the
        # noop writes have materialized them (round-14 ADVICE: leaked
        # blocks across 3 timed runs skew marginals)
        def body(batch, reg):
            recs, gen = recs_ckpt(batch)
            try:
                probe(recs, reg, batch.sparkSession)
                if extra is not None:
                    extra(recs, reg, gen)
            finally:
                free_blocks(batch.sparkSession, gen)
            noop(batch)

        return body

    def store_join(recs, reg, _gen):
        if reg is not None:
            noop(
                scored_pairs(_as_a(recs, "rec_id"), _as_b(reg, "entity_id"))
                .filter(F.col("decision") == "match")
                .groupBy(F.col("a_id").alias("rid"))
                .agg(F.min("b_id").alias("store_ent"))
            )

    def link(recs, reg, gen):
        # the full link dataflow contains the store scoring join, so
        # store_join's work is covered
        noop(link_batch(recs, reg, cc_gen=gen, carry_fields=True))

    return _stage_budget(
        spark,
        _er_source(spark),
        (
            ("source_sink_state_read", _pass_through),
            ("mode_probe", after_probe()),
            ("store_blocking_scoring", after_probe(store_join)),
            ("batch_components_assembly", after_probe(link)),
        ),
        "every row is a full stream run with a cumulative-prefix"
        " foreachBatch body (median-of-3, fresh checkpoint);"
        " stateful inputs come from a recorded per-epoch registry"
        " snapshot, so prefixes reproduce the real run's epoch"
        " inputs; the last row is the REAL sink, so marginals"
        " cover machinery, the auto mode probe, both scoring"
        " joins, components, and the checkpoint/write/fold tail"
        " with nothing unattributed; caveat: mode_probe replays"
        " the probe COLD per epoch while the real sink amortizes"
        " the registry side via the incremental delta fold, so"
        " that row is an upper bound and the tail marginal a"
        " corresponding lower bound",
        real_sink=entity_resolution_sink,
        parts=8,
        files_per_trigger=4,
    )


def _er_block(spark) -> dict:
    """Headline ER rate (median-of-3) plus the full-batch stage budget
    (the curation discipline, r12 VERDICT ask #2), then both forced
    blocking kernels."""
    block = _budget_block(
        spark, er_stage_attribution(spark), er_stream_bench, "records_per_sec"
    )
    # Both forced kernels priced beside the 'auto' headline (round 15,
    # the r14 verdict's measured-default ask): same corpus, same
    # median-of-3 discipline. On this corpus no block purges, so auto
    # resolves to flat every epoch and the flat row prices the
    # decision-free kernel; the composed row prices the ladders the
    # gate switches to past the purge crossover.
    block["modes"] = {
        m: median_of_3_stream(
            lambda s, _m=m: er_stream_bench(s, blocking=_m),
            spark,
            rate_key="records_per_sec",
        )
        for m in ("flat", "composed")
    }
    block["default"] = (
        "auto: flat until a flat block would purge this epoch "
        "(exact block-grain probe), then composed"
    )
    return block


def _prev_round_commit(here: str) -> str | None:
    """Hash of the most recent DRIVER round-close commit whose TREE
    differs from HEAD's — the exact tree the previous round's bench
    measured. Only the driver's two round-close subject forms match
    ('round N: verdict/advice/correctness/bench' and 'round N:
    end-of-round snapshot ...'): a builder commit that merely BEGINS
    'round N:' must not be picked, or the A/B silently pairs against a
    mid-round tree and measures this round's own edits as ~1.0
    (observed in round 11 before this tightening). The tree check
    prevents a self-comparison: re-running bench right at a round-close
    commit would otherwise pair HEAD against its own code."""
    import re
    import subprocess

    def _git(*args):
        return subprocess.run(
            ["git", *args], cwd=here, check=True, capture_output=True, text=True
        ).stdout

    try:
        head_tree = _git("rev-parse", "HEAD^{tree}").strip()
        out = _git("log", "--format=%H %T %s", "-n", "500")
    except (OSError, subprocess.CalledProcessError):
        return None
    close_subject = re.compile(
        r"round \d+: (verdict/advice/correctness/bench|end-of-round snapshot)"
    )
    for line in out.splitlines():
        parts = line.split(" ", 2)
        if len(parts) < 3:
            continue
        h, tree, subj = parts
        if close_subject.match(subj) and tree != head_tree:
            return h
    return None


def _pkg_modules() -> dict:
    import sys

    return {
        k: v
        for k, v in sys.modules.items()
        if k == "event_stream_aggr_spark"
        or k.startswith("event_stream_aggr_spark.")
    }


#: session confs the repo's query bodies are known to touch (qg07's
#: scoped width/advisory override, the skew twins' AQE toggles) — the
#: fence below restores exactly these
_FENCED_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.autoBroadcastJoinThreshold",
)


class _conf_fence:
    """Round-10 ADVICE: a prev-round query body that mutates session
    conf and throws BEFORE its own finally-restore (the per-query fence
    catches the exception but used to restore nothing) would leave
    every subsequent cur/prev measurement in the boot running under
    polluted conf — skewing exactly the paired ratios the A/B block
    exists to stabilize. Snapshot the known-touched keys before each
    measured run and restore them afterwards, pass or throw. Applied
    to BOTH sides so the fence itself cannot bias the pair."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = {}
        for k in _FENCED_CONF_KEYS:
            try:
                self.saved[k] = self.spark.conf.get(k)
            except Exception:  # noqa: BLE001 — unset key: nothing to restore
                pass
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            try:
                self.spark.conf.set(k, v)
            except Exception:  # noqa: BLE001 — best-effort restore
                pass
        return False


def _load_registry_from(worktree: str) -> tuple[dict, dict]:
    """(fns, modules) from the worktree's query registry, imported
    under temporary sys.path + sys.modules isolation. The closures
    keep their own module objects alive via their globals, so they
    stay callable after the live package's module table is restored —
    two versions of the engine coexist in one interpreter, which is
    what makes the SAME-session A/B possible. The prev module table is
    returned so callers can REINSTALL it around each prev run
    (``_swapped_modules``): a prev query body doing a call-time
    ``from event_stream_aggr_spark.x import y`` would otherwise
    resolve against the live cached modules and silently measure
    live-vs-live for exactly the helpers that changed."""
    import sys

    saved = _pkg_modules()
    for k in saved:
        del sys.modules[k]
    sys.path.insert(0, worktree)
    try:
        import event_stream_aggr_spark.plans.registry as prev_registry

        fns = {name: spec.fn for name, spec in prev_registry.load_all().items()}
        return fns, _pkg_modules()
    finally:
        sys.path.remove(worktree)
        for k in _pkg_modules():
            del sys.modules[k]
        sys.modules.update(saved)


class _swapped_modules:
    """Context manager: run with the prev round's package modules
    installed in sys.modules, restoring the live table on exit.

    Two subtleties both matter (found when qd16's prev side measured
    45x slow): the WORKTREE path goes on sys.path for the swap's
    duration, so a prev fn's call-time import of a module the registry
    load never touched resolves to PREV code (not the live repo via
    cwd); and modules imported during the swap are ADOPTED into the
    prev table on exit instead of discarded, so prev module-level
    state (e.g. the stagecache memo) persists across prev runs exactly
    like live state does — otherwise every prev run rebuilds memoized
    stages and the paired ratio wildly flatters the live side."""

    def __init__(self, prev_modules: dict, worktree: str):
        self.prev = prev_modules
        self.wt = worktree

    def __enter__(self):
        import sys

        self.live = _pkg_modules()
        for k in self.live:
            del sys.modules[k]
        sys.modules.update(self.prev)
        sys.path.insert(0, self.wt)

    def __exit__(self, *exc):
        import sys

        try:
            sys.path.remove(self.wt)
        except ValueError:
            pass
        self.prev.update(_pkg_modules())
        for k in _pkg_modules():
            del sys.modules[k]
        sys.modules.update(self.live)
        return False


def _interleaved(cur, prev, max_pairs: int, best) -> tuple[list, list, str | None]:
    """Same-boot paired measurements of one workload: ``cur()`` and
    ``prev()`` each return one figure (seconds, or a rate) and run in
    pairs. The order alternates per pair: whoever runs second in a
    pair rides caches the first just warmed, so a fixed order would
    bias the ratio toward the second side. Pairs past the first two
    run ONLY while best(cur)/best(prev) sits outside [0.8, 1.25]:
    sub-second queries show ±40% per-run scheduling/GC noise even
    paired, and stream rates 1.5-2x in-session spread (documented at
    median_of_3_stream), so recurring false tails on unchanged code
    send readers chasing phantom regressions — a genuine change
    survives the extra pairs, noise usually does not. An exception
    ends the pairs and comes back as the error (a per-workload fence:
    it costs that pair, never the block)."""
    cur_v: list = []
    prev_v: list = []
    try:
        for i in range(max_pairs):
            if i >= 2:
                c, p = best(cur_v), best(prev_v)
                if p > 0 and 0.8 <= c / p <= 1.25:
                    break
            pair = ((cur, cur_v), (prev, prev_v))
            for side, acc in pair if i % 2 == 0 else pair[::-1]:
                acc.append(side())
    except Exception as exc:  # noqa: BLE001 — per-workload fence
        return cur_v, prev_v, repr(exc)[:200]
    return cur_v, prev_v, None


def _ratio_first_two(cur: list, prev: list, best) -> dict:
    """round-10 VERDICT ask #5: re-measuring only out-of-band pairs
    and taking the best over ALL runs shrinks the tails
    asymmetrically; keeping the pre-re-measure ratio beside the final
    one makes that suppression auditable."""
    if len(cur) > 2 and len(prev) >= 2 and best(prev[:2]) > 0:
        return {"ratio_first_two": round(best(cur[:2]) / best(prev[:2]), 3)}
    return {}


def vs_prev_same_boot(spark, specs, headline) -> dict:
    """Round-9 VERDICT ask #2: two consecutive rounds produced headline
    'regressions' (+9.1%, +13.6%) that dissolved into host state on
    same-code reruns — cross-BOOT absolute timings on this box shift
    up to ~40%, so round-over-round deltas were ungradeable. This
    block times the PREVIOUS round-close commit's code (a detached git
    worktree) against the live code in the SAME Spark session and
    boot, interleaved per query (cur, prev, cur, prev; min-of-2 per
    side), and reports the paired ratio — host state cancels out of a
    ratio taken seconds apart.

    Caveats, accepted and caught per query: the prev registry loads
    under module isolation but Python WORKERS resolve by-reference
    pickles via the live PYTHONPATH, so a prev query whose driver code
    references a since-renamed module symbol errors — recorded as that
    query's 'error', never fatal. Queries absent from either registry
    are skipped with the reason recorded."""
    import subprocess

    prev = _prev_round_commit(HERE)
    if not prev:
        return {"skipped": "no prior round-close commit in git log"}
    wt = tempfile.mkdtemp(prefix="bench_prev_wt_")
    shutil.rmtree(wt)  # git worktree add wants the path absent
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, prev],
            cwd=HERE,
            check=True,
            capture_output=True,
        )
        prev_fns, prev_modules = _load_registry_from(wt)

        def _time(fn, swap):
            # prev modules installed so even call-time imports inside
            # the prev fn resolve to the prev code; conf fenced (both
            # sides) so a prev body throwing mid-mutation can't
            # pollute every later measurement in the boot
            with swap, _conf_fence(spark):
                t0 = time.perf_counter()
                noop(fn(spark, SF_DIR))
                return time.perf_counter() - t0

        per_query: dict = {}
        for name in headline:
            if name not in prev_fns:
                per_query[name] = {"skipped": "absent in prev round"}
                continue
            cur, prev_, err = _interleaved(
                lambda: _time(specs[name].fn, contextlib.nullcontext()),
                lambda: _time(prev_fns[name], _swapped_modules(prev_modules, wt)),
                max_pairs=4,
                best=min,
            )
            if err or not cur or not prev_:
                per_query[name] = {"error": err or "prev run produced no timing"}
                continue
            c, p = min(cur), min(prev_)
            per_query[name] = {
                "cur_sec": round(c, 4),
                "prev_sec": round(p, 4),
                "ratio_cur_over_prev": round(c / p, 3) if p > 0 else None,
                "n_pairs": min(len(cur), len(prev_)),
                **_ratio_first_two(cur, prev_, min),
            }
        ratios = sorted(
            v["ratio_cur_over_prev"]
            for v in per_query.values()
            if v.get("ratio_cur_over_prev")
        )
        # true even-n median, not the upper-middle element
        median = round(statistics.median(ratios), 3) if ratios else None
        streams = _vs_prev_streams(spark, prev_modules, wt)
        return {
            "prev_commit": prev[:12],
            "method": "interleaved min-of-2 per side, same session/boot",
            "note": "ratio < 1 means the live code is faster than the"
            " previous round-close on identical host state; cross-round"
            " deltas should be read from this, not from cross-boot"
            " absolute seconds",
            "median_ratio_cur_over_prev": median,
            "n_compared": len(ratios),
            "streams": streams,
            "stream_ratios": {
                k: v.get("ratio_cur_over_prev") for k, v in streams.items()
            },
            "queries": per_query,
        }
    except Exception as exc:  # noqa: BLE001 — a broken prev tree (its
        # package import raising anything at load_all()) must cost the
        # A/B block, never the whole bench run's measurements
        return {"error": f"vs_prev setup failed: {exc!r}"[:300]}
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=HERE,
            capture_output=True,
        )
        shutil.rmtree(wt, ignore_errors=True)


def _vs_prev_streams(spark, prev_modules: dict, wt: str) -> dict:
    """Round-10 VERDICT ask #6: the 45 batch queries are paired, but
    the streaming rates were still cross-boot medians-of-3 — r10's CEP
    +24% was 'probably real but ungraded by the same standard'. Pair
    the three stream benches the same way: the LIVE harness function
    times both sides (the harness is held fixed; what's swapped via
    module isolation is the ENGINE code its call-time imports
    resolve to), interleaved cur/prev/prev/cur, MAX rate per side (the
    rate analogue of min-time — robust to one cold run), ratio > 1
    means the live engine streams faster. Per-stream fences: an error
    costs that stream's pair, never the block."""
    out: dict = {}
    for sname, fn, rate_key in (
        ("alerts", stream_bench, "alerts_per_sec"),
        ("curation", curation_stream_bench, "docs_per_sec"),
        ("cep", cep_stream_bench, "events_per_sec"),
        # round-12 VERDICT ask #4: the two newest streams were still
        # cross-boot medians-of-3 — pair them like the other three
        ("near_dedup", near_dedup_stream_bench, "docs_per_sec"),
        ("entity_resolution", er_stream_bench, "records_per_sec"),
    ):

        def _rate(swap, fn=fn, rate_key=rate_key):
            with swap, _conf_fence(spark):
                return fn(spark)[rate_key]

        cur, prev, err = _interleaved(
            lambda: _rate(contextlib.nullcontext()),
            lambda: _rate(_swapped_modules(prev_modules, wt)),
            max_pairs=3,
            best=max,
        )
        if err or not cur or not prev:
            out[sname] = {"error": err or "side produced no rate"}
            continue
        c, p = max(cur), max(prev)
        out[sname] = {
            "rate_key": rate_key,
            "cur_rate": round(c, 1),
            "prev_rate": round(p, 1),
            "ratio_cur_over_prev": round(c / p, 3) if p > 0 else None,
            "n_pairs": min(len(cur), len(prev)),
            "cur_rates": [round(r, 1) for r in cur],
            "prev_rates": [round(r, 1) for r in prev],
            **_ratio_first_two(cur, prev, max),
        }
    return out


if __name__ == "__main__":
    main()
