"""The benchmark's workloads.

Each workload sets up ``SETUPS`` times (session start, seeded input
generation, warm-up; ``setup_s`` is the median), measures for
``--seconds``, then checks every output outside the timed region.

* ``fold_stream`` — an open-loop generator process feeds parquet files
  to ``pipeline.read_events_stream`` → ``pipeline.apply_specs`` at a
  fixed rate; then a fixed backlog is drained.
* ``driver_batch``, ``scan_batch`` — passes over a fixed list of
  registry queries, each called as ``fn(spark, data_dir)`` (the
  builder) and written to the ``noop`` sink (execute).

End-to-end metrics: ``setup_s``; ``wall_s`` (fold: backlog drain time,
others: median pass time); ``lat_p50_s`` and ``lat_p99_s`` (fold: event
latency from scheduled creation to the end of the micro-batch carrying
it; others: per-query call-to-written latency, the median over passes,
then the percentile over the queries); ``peak_mem_mb`` (run.py).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import check
import gen
from collect import (PHASES, JobLog, ProgressLog, Tracer, batch_window,
                     job_totals)

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = len(os.sched_getaffinity(0))
SETUPS = 3

# Batch fixtures: row counts at this share of TPC-H sf1.
SCALE = 0.01

# driver_batch: keyed-stream replays (their bounded streams run inside
# the builder call) and iterative, job-heavy batch queries.
KEYED = ("stream_tws_user_totals", "stream_session_window_user")
DRIVER_BATCH = KEYED + ("graph_kcore_peel", "io_table_format_protocol")
SCAN_BATCH = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_product_profit", "q18_large_orders", "q21_waiting_supplier",
    "text_lm_score", "mm_jpeg_420_decode",
)
# Nominal seconds per pass: a run makes round(--seconds / PASS_S) passes,
# at least one, so the work measured does not depend on timing.
PASS_S = {"driver": 20.0, "scan": 10.0}
# The query each setup warms up with (JIT, codegen, Python workers).
WARM = {"driver": "stream_dedup_within_watermark",
        "scan": "text_lm_score"}

# fold_stream: open-loop rate, events per generator file (one file per
# 100 ms), share of --seconds spent at the fixed rate, the first seconds
# of it left out of the latency figures (JIT still settling), and the
# drained backlog.
FOLD_RATE = 40_000
FOLD_PER_FILE = 4_000
FOLD_RATE_SHARE = 0.7
FOLD_SETTLE_S = 2.0
FOLD_BACKLOG_FILES = 250
FOLD_SCHEMA = ("event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string, "
               "created_us long")


@dataclass
class Run:
    args: object
    work: str
    out_dir: str
    layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    @property
    def trace(self) -> bool:
        return bool(self.args.trace)


@dataclass
class Result:
    e2e: dict
    attempted: int
    failed: int
    problems: list


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _session(cores: int = CORES):
    from fluent_bit_filter_math_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(run: Run, prepare):
    """Session start + input generation + warm-up, ``SETUPS`` times on
    fresh SparkContexts (the first also launches the JVM)."""
    spark, state, times = None, None, []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = _session()
        state = prepare(spark, os.path.join(run.work, f"input{i}"))
        times.append(time.perf_counter() - t)
    run.layer["setup.first_s"] = times[0]
    return spark, state, _median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_session_caches(spark) -> None:
    """Drop every session cache the engine keeps, so each pass rebuilds."""
    from fluent_bit_filter_math_spark.operators import dedup, graph

    for fn in (dedup.release_shingle_index, dedup.release_cluster_map,
               graph.release_edge_index, graph.release_tri_und,
               graph.release_tri_oriented, graph.release_ppr_ranks):
        fn(spark)


def _stream_layer(progress: list[dict]) -> dict[str, float]:
    """Micro-batch phase means and state-operator totals."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0] or progress
    out: dict[str, float] = {}
    n = max(1, len(data))
    for ph in PHASES:
        out[f"stream.{ph}_ms"] = sum(
            p["durationMs"].get(ph, 0) for p in data) / n
    rows = sum(p.get("numInputRows", 0) for p in progress)
    out["stream.batches"] = len(data)
    out["stream.input_rows"] = rows
    out["stream.rows_per_batch"] = rows / n
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    out["state.commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops)
    out["state.updates_ms"] = sum(op.get("allUpdatesTimeMs", 0) for op in ops)
    # State held: per query, the peak over its batches (a final no-data
    # batch may already have expired the state).
    peak: dict[str, dict[str, float]] = {}
    for p in progress:
        ops = p.get("stateOperators", [])
        cur = {"rows": sum(op.get("numRowsTotal", 0) for op in ops),
               "mem": sum(op.get("memoryUsedBytes", 0) for op in ops),
               "inst": sum(op.get("numStateStoreInstances", 0) for op in ops)}
        old = peak.setdefault(p["id"], cur)
        peak[p["id"]] = {k: max(old[k], cur[k]) for k in cur}
    out["state.rows_total"] = sum(q["rows"] for q in peak.values())
    out["state.mem_mb"] = sum(q["mem"] for q in peak.values()) / 2**20
    out["state.instances"] = sum(q["inst"] for q in peak.values())
    return out


# --- pass workloads -------------------------------------------------------

def _prepare_tables(seed: int, warm: str):
    def prepare(spark, data_dir):
        from fluent_bit_filter_math_spark.registry import all_queries

        gen.write_tables(data_dir, seed, SCALE)
        _noop(all_queries()[warm](spark, data_dir))
        return data_dir
    return prepare


def _pass(spark, qs, names, data_dir, traced, jlog, plog, tracer, errors,
          last_df):
    calls, jobs, t0 = {}, [], time.perf_counter()
    for name in names:
        if name in errors:
            continue
        try:
            seen = len(plog.snapshot())
            b0 = time.time()
            df = qs[name](spark, data_dir)
            b1 = time.time()
            if traced:
                plog.wait_terminated()
                progress = plog.snapshot()[seen:]
                jb = jlog.take()
            e0 = time.time()
            _noop(df)
            e1 = time.time()
        except Exception as exc:  # noqa: BLE001 — counted as a failed call
            errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
            continue
        last_df[name] = df
        calls[name] = {"builder_s": b1 - b0, "execute_s": e1 - e0}
        if traced:
            je = jlog.take()
            tracer.add("builder", name, b0, b1, jobs=[j["job"] for j in jb])
            tracer.add("execute", name, e0, e1, jobs=[j["job"] for j in je])
            tracer.add_jobs(jb + je)
            tracer.add_batches(progress)
            calls[name]["jobs"] = len(jb) + len(je)
            calls[name]["progress"] = progress
            calls[name]["state_rows"] = _stream_layer(progress)[
                "state.rows_total"]
            jobs += jb + je
    return {"wall": time.perf_counter() - t0, "calls": calls, "jobs": jobs}


def _trace_summary(run: Run, tracer: Tracer, e2e: dict) -> None:
    """The traced run's own end-to-end figures (tracing overhead is this
    minus the untraced runs' median) and its span file."""
    run.layer["trace.wall_s"] = e2e["wall_s"]
    run.layer["trace.lat_p50_s"] = e2e["lat_p50_s"]
    run.layer["trace.spans"] = len(tracer.spans)
    tracer.write(os.path.join(
        run.out_dir, f"trace-{run.args.workload}-{run.args.seed}.json"))


def _pass_layer(p: dict, role: str) -> dict:
    calls = p["calls"]
    progress = [pr for c in calls.values() for pr in c["progress"]]
    b = sum(c["builder_s"] for c in calls.values())
    e = sum(c["execute_s"] for c in calls.values())
    out = {"builder_s": b, "execute_s": e,
           "builder_frac": b / (b + e) if b + e else 0.0}
    for name, c in calls.items():
        if role == "scan":
            out[f"q.{name}.execute_s"] = c["execute_s"]
        else:
            out[f"q.{name}.builder_s"] = c["builder_s"]
            out[f"q.{name}.jobs"] = c["jobs"]
    out.update(job_totals(p["jobs"]))
    out["exec.busy_frac"] = out["exec.task_run_s"] / (p["wall"] * CORES)
    out.update(_stream_layer(progress))
    out["state.queries_with_rows"] = sum(
        c["state_rows"] > 0 for c in calls.values())
    return out


def _pass_workload(run: Run, names: tuple[str, ...], role: str) -> Result:
    from fluent_bit_filter_math_spark.registry import all_oracles, all_queries

    spark, data_dir, setup_s = _setup(
        run, _prepare_tables(run.args.seed, WARM[role]))
    qs = all_queries()
    plog = ProgressLog()
    jlog = None
    if run.trace:
        spark.streams.addListener(plog)
        jlog = JobLog(spark)
    tracer = Tracer()
    errors: dict[str, str] = {}
    last_df: dict = {}
    passes = []
    for _ in range(max(1, round(run.args.seconds / PASS_S[role]))):
        release_session_caches(spark)
        if run.trace:
            jlog.take()
        passes.append(_pass(spark, qs, names, data_dir, run.trace, jlog,
                            plog, tracer, errors, last_df))

    # Output checks, outside every timed region.
    oracles = all_oracles()
    con = check.duck_connect(data_dir)
    wrong = {}
    for name in names:
        if name in errors:
            continue
        pdf = last_df[name].toPandas()
        if name in oracles:
            probs = check.oracle_problems(con, oracles[name], pdf)
        else:
            probs = [] if len(pdf) else ["no rows"]
        if probs:
            wrong[name] = probs[0]
    con.close()

    attempted = sum(len(p["calls"]) for p in passes) + len(errors)
    failed = len(errors) + sum(
        1 for p in passes for n in p["calls"] if n in wrong)
    problems = [f"{n} raised {e}" for n, e in errors.items()] + [
        f"{n} output differs from its oracle: {w}" for n, w in wrong.items()]

    per_query = {}
    for p in passes:
        for n, c in p["calls"].items():
            per_query.setdefault(n, []).append(c["builder_s"] + c["execute_s"])
    lat = [_median(v) for v in per_query.values()] or [0.0]
    e2e = {
        "setup_s": setup_s,
        "wall_s": _median([p["wall"] for p in passes]),
        "lat_p50_s": float(np.percentile(lat, 50)),
        "lat_p99_s": float(np.percentile(lat, 99)),
    }
    if run.trace:
        layers = [_pass_layer(p, role) for p in passes]
        for key in layers[0]:
            run.layer[key] = _median([lay.get(key, 0.0) for lay in layers])
        for layer, s in tracer.self_times().items():
            run.layer[f"self.{layer}_s"] = s / len(passes)
        _trace_summary(run, tracer, e2e)
    run.layer["passes"] = len(passes)
    run.detail["passes"] = [
        {"wall": p["wall"], "calls": {
            n: {k: v for k, v in c.items() if k != "progress"}
            for n, c in p["calls"].items()}} for p in passes]
    return Result(e2e, attempted, failed, problems)


def driver_batch(run: Run) -> Result:
    return _pass_workload(run, DRIVER_BATCH, "driver")


def scan_batch(run: Run) -> Result:
    return _pass_workload(run, SCAN_BATCH, "scan")


# --- fold_stream ------------------------------------------------------------

def _fold_plan(spark, watch_dir: str):
    """The streaming plan under test, plus the sink's observed checksums
    (computed in the same job as the write)."""
    from pyspark.sql import functions as F

    from fluent_bit_filter_math_spark.pipeline import (apply_specs,
                                                       read_events_stream)
    from fluent_bit_filter_math_spark.spec import MathSpec

    specs = [MathSpec.build(op, list(args), out, cast_to_int=to_int)
             for op, args, out, to_int in check.FOLD_SPECS]
    t0 = time.perf_counter()
    df = apply_specs(read_events_stream(spark, watch_dir,
                                        schema=FOLD_SCHEMA), specs)
    plan_ms = (time.perf_counter() - t0) * 1e3
    aggs = [F.count(F.lit(1)).alias("n"), F.min("event_id").alias("lo"),
            F.max("event_id").alias("hi")]
    for _, _, out, _ in check.FOLD_SPECS:
        aggs += [F.count(out).alias(f"{out}_n"), F.sum(out).alias(f"{out}_sum"),
                 F.min(out).alias(f"{out}_min"),
                 F.max(out).alias(f"{out}_max")]
    return df.observe("chk", *aggs), plan_ms


def _start_fold(spark, watch_dir: str, ckpt: str):
    """Start the fold stream on every directory under ``watch_dir``."""
    os.makedirs(os.path.join(watch_dir, "rate"))
    df, plan_ms = _fold_plan(spark, os.path.join(watch_dir, "*"))
    q = (df.writeStream.format("noop").queryName("fold_stream")
         .option("checkpointLocation", ckpt).start())
    return q, plan_ms


def _rows_done(plog: ProgressLog, qid: str) -> int:
    return sum(p.get("numInputRows", 0) for p in plog.snapshot()
               if p["id"] == qid)


def _wait_rows(plog, q, target: int, timeout: float) -> None:
    deadline = time.time() + timeout
    while _rows_done(plog, str(q.id)) < target:
        if time.time() > deadline or q.exception() is not None:
            raise RuntimeError(
                f"stream processed {_rows_done(plog, str(q.id))} of {target} "
                f"events: {q.exception()}")
        time.sleep(0.01)


def _drain(plog, q, backlog_dir: str, watch_dir: str, base: int,
           total: int) -> float:
    """Rename the backlog directory into the running stream's source
    glob, so one listing sees all of it or none; returns seconds until
    the last backlog event is processed."""
    t = time.time()
    os.rename(backlog_dir, os.path.join(watch_dir, "backlog"))
    _wait_rows(plog, q, base + total, timeout=120)
    ends = [batch_window(p)[1] for p in plog.snapshot()
            if p["id"] == str(q.id) and p.get("numInputRows", 0) > 0]
    return max(ends) - t


def _prepare_fold(seed: int):
    def prepare(spark, d):
        # Warm-up: four files through the same plan, availableNow.
        watch = os.path.join(d, "watch")
        os.makedirs(os.path.join(watch, "rate"))
        for i in range(4):
            t = gen.stream_file(seed + 1, i, FOLD_PER_FILE, 0, FOLD_RATE)
            gen.pq.write_table(t, os.path.join(watch, "rate", f"w{i}.parquet"))
        df, _ = _fold_plan(spark, os.path.join(watch, "*"))
        (df.writeStream.format("noop").trigger(availableNow=True)
         .option("checkpointLocation", os.path.join(d, "ckpt"))
         .start().awaitTermination())
        return d
    return prepare


def _batch_problems(seed: int, batches: list[dict]) -> dict[int, list]:
    """Compare each micro-batch's observed checksums with the numpy fold
    of the generator's own rows for the same event ids."""
    problems: dict[int, list] = {}
    for p in batches:
        chk = p.get("observedMetrics", {}).get("chk", {})
        n, lo, hi = chk.get("n", 0), chk.get("lo"), chk.get("hi")
        if lo is None or n != hi - lo + 1 or lo % FOLD_PER_FILE or (
                (hi + 1) % FOLD_PER_FILE):
            problems[p["batchId"]] = [f"rows {n} ids {lo}..{hi} are not "
                                      "whole generator files"]
            continue
        parts = [gen.events(seed, f * FOLD_PER_FILE, FOLD_PER_FILE,
                            part=1 + f, props=False)
                 for f in range(lo // FOLD_PER_FILE, (hi + 1) // FOLD_PER_FILE)]
        cols = {k: np.concatenate([c[k] for c in parts])
                for k in ("value", "k", "rate")}
        want = check.fold_summary(check.reference_fold(
            cols["value"], cols["k"], cols["rate"]))
        bad = check.summary_problems(chk, want)
        if bad:
            problems[p["batchId"]] = bad
    return problems


def fold_stream(run: Run) -> Result:
    seed = run.args.seed
    spark, _, setup_s = _setup(run, _prepare_fold(seed))
    plog = ProgressLog()
    spark.streams.addListener(plog)
    watch = os.path.join(run.work, "watch")
    stage = os.path.join(run.work, "stage")
    rate_files = max(1, int(run.args.seconds * FOLD_RATE_SHARE * FOLD_RATE
                            / FOLD_PER_FILE))
    rate_events = rate_files * FOLD_PER_FILE
    backlog_events = FOLD_BACKLOG_FILES * FOLD_PER_FILE
    jlog = JobLog(spark) if run.trace else None

    q, plan_ms = _start_fold(spark, watch, os.path.join(run.work, "ckpt"))
    t0_us = int((time.time() + 0.5) * 1e6)
    report = os.path.join(run.work, "gen-report.json")
    proc = subprocess.Popen([
        sys.executable, os.path.join(HERE, "gen.py"),
        "--out", os.path.join(watch, "rate"), "--stage", stage,
        "--report", report,
        "--seed", str(seed), "--rate", str(FOLD_RATE),
        "--per-file", str(FOLD_PER_FILE), "--files", str(rate_files),
        "--backlog-files", str(FOLD_BACKLOG_FILES), "--t0-us", str(t0_us)])
    try:
        proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    problems = [] if proc.returncode == 0 else [
        f"generator exited with {proc.returncode}"]
    _wait_rows(plog, q, rate_events, timeout=60)
    backlog = os.path.join(stage, "backlog")
    drain_s = _drain(plog, q, backlog, watch, rate_events, backlog_events)
    q.stop()
    plog.wait_terminated()

    # Latency of every rate-phase event after the settling time: end of
    # its micro-batch minus its scheduled creation time.
    batches = [p for p in plog.snapshot()
               if p["id"] == str(q.id) and p.get("numInputRows", 0) > 0]
    lats = []
    rate_batches = []
    for p in batches:
        chk = p.get("observedMetrics", {}).get("chk", {})
        if chk.get("lo") is None or chk["lo"] >= rate_events:
            continue
        rate_batches.append(p)
        ids = np.arange(max(chk["lo"], int(FOLD_SETTLE_S * FOLD_RATE)),
                        min(chk["hi"] + 1, rate_events))
        lats.append(batch_window(p)[1] - (t0_us / 1e6 + ids / FOLD_RATE))
    lat = np.concatenate(lats) if lats else np.zeros(1)

    # Output checks, outside the timed region.
    total = sum(p["numInputRows"] for p in batches)
    if total != rate_events + backlog_events:
        problems.append(f"sink saw {total} events, generator wrote "
                        f"{rate_events + backlog_events}")
    bad = _batch_problems(seed, batches)
    # A lost or extra event, or a failed generator, fails one operation
    # beyond the micro-batches whose checksums differ.
    failed = len(bad) + bool(problems)
    problems += [f"batch {b}: {x[0]}" for b, x in bad.items()]
    with open(report) as fh:
        gen_report = json.load(fh)

    e2e = {
        "setup_s": setup_s,
        "wall_s": drain_s,
        "lat_p50_s": float(np.percentile(lat, 50)),
        "lat_p99_s": float(np.percentile(lat, 99)),
    }
    run.detail["drain_batches"] = sum(
        1 for p in batches
        if p.get("observedMetrics", {}).get("chk", {}).get("hi", -1)
        >= rate_events)
    run.layer.update({
        "stream.drain_eps": backlog_events / drain_s,
        "gen.late_s": max(gen_report["late_s"]),
        "gen.events": rate_events + backlog_events,
        "pipeline.plan_ms": plan_ms,
        "lat.samples": len(lat),
    })
    if run.trace:
        _fold_trace(run, spark, plog, rate_batches, jlog, gen_report,
                    backlog, watch, plan_ms, backlog_events, e2e)
    return Result(e2e, len(batches), failed, problems)


def _fold_trace(run, spark, plog, rate_batches, jlog, gen_report,
                backlog, watch, plan_ms, backlog_events, e2e):
    """Per-layer figures of the fixed-rate phase, read after the stream
    stopped; then the backlog drained again on one core."""
    start = min(batch_window(p)[0] for p in rate_batches)
    end = max(batch_window(p)[1] for p in rate_batches)
    jobs = [j for j in jlog.take()
            if j["start"] is not None and start <= j["start"] <= end]
    tracer = Tracer()
    tracer.add_batches(rate_batches)
    tracer.add_jobs(jobs)
    for f in gen_report["files"]:
        tracer.add("generator", f["file"], f["start"], f["end"])
    run.layer.update(_stream_layer(rate_batches))
    run.layer.update(job_totals(jobs))
    run.layer["exec.busy_frac"] = run.layer["exec.task_run_s"] / (
        (end - start) * CORES)
    for layer, s in tracer.self_times().items():
        run.layer[f"self.{layer}_s"] = s
    run.layer["self.plan_s"] = plan_ms / 1e3
    _trace_summary(run, tracer, e2e)
    # Scaling reference: the same backlog drained on one core.
    again = os.path.join(run.work, "backlog1")
    shutil.copytree(os.path.join(watch, "backlog"), again)
    spark.stop()
    spark = _session(1)
    plog1 = ProgressLog()
    spark.streams.addListener(plog1)
    watch1 = os.path.join(run.work, "watch1")
    q1, _ = _start_fold(spark, watch1, os.path.join(run.work, "ckpt1"))
    time.sleep(1.0)
    drain1 = _drain(plog1, q1, again, watch1, 0, backlog_events)
    q1.stop()
    run.layer["stream.drain_eps_1core"] = backlog_events / drain1


WORKLOADS = {
    "fold_stream": fold_stream,
    "driver_batch": driver_batch,
    "scan_batch": scan_batch,
}
