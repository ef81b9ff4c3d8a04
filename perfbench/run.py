#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine's workload families.

    python3 perfbench/run.py --workload rsna_etl --seed 1 --seconds 1 --trace 0

Run from the repository root. One process, one SparkSession exactly as
``session.get_spark()`` builds it at ``local[<nproc>]``. The run

1. sets up the session (``setup_s``: process start until ``get_spark()``
   has returned and a first trivial job has finished),
2. generates the workload's inputs from ``--seed`` inside a private run
   directory under ``.perfbench_runs/`` and computes the expected
   outputs,
3. runs passes for ``--seconds`` of measured time, at least one; the
   first is the cold pass, the rest are warm. Every pass's outputs are
   checked outside the timed region,
4. prints a report line and, last, one JSON object with the metrics.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json`` with
all tracing off. ``--trace 1`` starts the session with Spark's event log
on, runs the untraced passes (at least one warm), then further warm
passes under spans, and reports the per-layer metrics. A wrong or failed operation counts in
``failed`` and makes the exit code 1.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# conf keys left out of the report: per-run identities, and install or
# run-directory locations that say nothing about how the session computes
VOLATILE_CONF = ("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
                 "spark.driver.host", "spark.driver.port", "spark.app.initial",
                 "spark.eventLog", "spark.local.dir", "spark.submit.pyFiles",
                 "spark.repl.local.jars", "spark.sql.warehouse.dir", "spark.jars.ivy")


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _workloads() -> dict:
    from wl_curation import Curation
    from wl_events_stream import EventsStream
    from wl_fixpoint import Fixpoint
    from wl_rsna_etl import RsnaEtl

    return {w.name: w for w in (RsnaEtl(), Curation(), Fixpoint(), EventsStream())}


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def start_session(extra_conf=None):
    """``get_spark()`` plus a first trivial job; returns the session and
    the two durations."""
    from data_pipeline_rsna_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the session, end its JVM and every process it started, and
    wait for them."""
    from pyspark import SparkContext

    from tracing import tree_pids

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    for sig, grace_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 5)):
        if not tree_pids()[1:]:
            return
        for pid in tree_pids()[1:]:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + grace_s
        while tree_pids()[1:] and time.time() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def effective_conf(spark) -> dict:
    return {k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if not k.startswith(VOLATILE_CONF)}


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


def run_passes(spark, wl, truth, ref, run_dir, seconds, make_tracer=None, after=None,
               min_passes=1):
    """Passes until ``seconds`` of measured time, at least ``min_passes``. Each pass
    is checked right after it, outside its timing; a pass that raises
    ends the loop. ``after(out, rec)`` runs after a successful pass, also
    outside its timing."""
    from tracing import NullTracer, tree_cpu_s

    passes = []
    while len(passes) < min_passes or sum(p["wall_s"] for p in passes) < seconds:
        out_dir = os.path.join(run_dir, "pass")
        gc.collect()
        spark._jvm.System.gc()
        tr = make_tracer() if make_tracer else NullTracer()
        gc0, cpu0, t0 = jvm_gc_s(spark), tree_cpu_s(), time.time()
        try:
            out, error = wl.run_pass(spark, truth, out_dir, tr), None
        except Exception as exc:  # counted as failed operations; the run goes on
            traceback.print_exc()
            out, error = None, f"{type(exc).__name__}: {exc}"
        t1 = time.time()
        rec = {"start": t0, "end": t1, "wall_s": t1 - t0, "cpu_s": tree_cpu_s() - cpu0,
               "gc_s": jvm_gc_s(spark) - gc0, "spans": list(tr.spans)}
        if error is None:
            try:
                rec["errors"] = wl.check(out, ref)
            except Exception as exc:
                traceback.print_exc()
                rec["errors"] = {op: f"check raised {exc!r}" for op in wl.ops}
            if after is not None:
                after(out, rec)
        else:
            rec["errors"] = {op: error for op in wl.ops}
        shutil.rmtree(out_dir, ignore_errors=True)
        passes.append(rec)
        if error is not None:
            break
    return passes


def measure(spark, wl, truth, ref, run_dir, seconds, input_rows, min_passes=1):
    """The untraced passes, summarised: the cold pass, and the warm ones
    when there are any."""
    passes = run_passes(spark, wl, truth, ref, run_dir, seconds, min_passes=min_passes)
    summary = {"cold_s": passes[0]["wall_s"], "cold_cpu_s": passes[0]["cpu_s"]}
    warm = passes[1:]
    if warm:
        warm_s = statistics.median(p["wall_s"] for p in warm)
        summary.update(warm_s=warm_s, rows_per_s=input_rows / warm_s,
                       cpu_s=statistics.median(p["cpu_s"] for p in warm))
    return passes, summary


def count_ops(wl, passes) -> tuple[int, int]:
    return len(wl.ops) * len(passes), sum(len(p["errors"]) for p in passes)


# ---------------------------------------------------------------------------
# the traced passes
# ---------------------------------------------------------------------------


def traced_passes(spark, wl, truth, ref, run_dir, seconds, listener):
    """Warm passes under spans, with a /proc sampler and a span around the
    TFRecord sink inside ``run_rsna_pipeline``. Returns the passes and,
    per pass, what ``layer_metrics`` needs afterwards."""
    import data_pipeline_rsna_spark.sinks.tfrecord as tfr

    import tracing

    orig_sink = tfr.write_tfrecord_shards
    current = {}  # the tracer of the pass in flight

    def traced_sink(*args, **kwargs):
        with current["tracer"].span("sinks.tfrecord.write"):
            return orig_sink(*args, **kwargs)

    def make_tracer():
        current["tracer"] = tracing.Tracer(spark, prefix=f"p{len(extras)}:")
        return current["tracer"]

    extras: list[dict] = []

    def after(out, rec):
        # the rsna head probes run after the pass, outside its wall time
        probe = wl.probes(spark, truth, current["tracer"]) if hasattr(wl, "probes") else None
        extras.append({"out": out, "probe": probe})

    sampler = tracing.ProcSampler().start()
    tfr.write_tfrecord_shards = traced_sink
    try:
        passes = run_passes(spark, wl, truth, ref, run_dir, seconds, make_tracer, after)
        listener.wait_terminated(list(listener.progress))
    finally:
        tfr.write_tfrecord_shards = orig_sink
        sampler.stop()
    return passes, extras, sampler.peak_mb


def layer_metrics(wl, truth, passes, extras, jobs, listener) -> tuple[dict, list]:
    """Per-layer metrics of each traced pass, as medians over the passes;
    and per pass its wall time and the sum of the span self times."""
    import tracing

    def jobs_of(spans):
        return tracing.jobs_in(jobs, spans)

    progress = listener.batches(list(listener.progress))
    rows = []
    for rec, ex in zip(passes, extras):
        pass_jobs = [j for j in jobs if rec["start"] <= j["submit"] <= rec["end"]]
        m = tracing.engine_metrics(pass_jobs, rec["start"], rec["end"])
        m["session.gc_s"] = rec["gc_s"]
        m.update(wl.layer_metrics(ex["out"], rec["spans"], jobs_of, ex["probe"], truth))
        batches = [p for p in progress
                   if rec["start"] <= _iso_s(p["timestamp"]) <= rec["end"]]
        last = {p["runId"]: p for p in batches}
        m.update(tracing.stream_metrics(batches, list(last.values())))
        rows.append(m)
    merged = {k: statistics.median(r[k] for r in rows)
              for k in (rows[0] if rows else ()) if not k.startswith("_")}
    walls = [{"wall_s": rec["wall_s"], "self_sum_s": r.get("_self_sum_s"),
              "head_scale": r.get("_head_scale")} for rec, r in zip(passes, rows)]
    return merged, walls


def _iso_s(stamp: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("rsna_etl", "fixpoint", "curation", "events_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size preset; 'tiny' is for the smoke tests")
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "inputs", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    try:
        return _run(args, run_dir, nproc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir, nproc) -> int:
    import numpy as np

    import tracing

    e2e_units, layer_units = _metric_specs()
    wl = _workloads()[args.workload]
    log_dir = os.path.join(run_dir, "eventlog")
    spark, start_s, first_job_s = start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    } if args.trace else None)
    setup_s = tracing.process_age_s()
    conf = effective_conf(spark)
    # registered in every run, so a traced run differs only by its tracing
    listener = tracing.make_stream_listener()
    spark.streams.addListener(listener)
    report = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
              "size": args.size, "spark_conf": conf,
              "env": {"SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                      "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT)}}
    try:
        props, truth = wl.generate(os.path.join(run_dir, "inputs"),
                                   np.random.default_rng(args.seed), args.size)
        ref = wl.reference(truth)
        # a traced run also needs an untraced warm pass, for trace_overhead_s
        passes, summary = measure(spark, wl, truth, ref, run_dir, args.seconds,
                                  props["rows"], min_passes=2 if args.trace else 1)
        if args.trace:
            tpasses, extras, peak_mb = traced_passes(spark, wl, truth, ref, run_dir,
                                                     args.seconds, listener)
    finally:
        stop_session(spark)
    summary["setup_s"] = setup_s
    attempted, failed = count_ops(wl, passes)
    report.update(inputs=props, end_to_end=summary,
                  passes=[{k: p[k] for k in ("wall_s", "cpu_s", "errors")} for p in passes])
    if args.trace:
        # the event log is complete once the session has stopped
        layers, walls = layer_metrics(wl, truth, tpasses, extras,
                                      tracing.read_event_log(log_dir), listener)
        traced = [p["wall_s"] for p in tpasses]
        layers.update({
            "session.start_s": start_s,
            "session.first_job_s": first_job_s,
            "session.peak_rss_mb": peak_mb,
            "trace_overhead_s": (statistics.median(traced)
                                 - summary.get("warm_s", summary["cold_s"])),
        })
        t_attempted, t_failed = count_ops(wl, tpasses)
        attempted, failed = attempted + t_attempted, failed + t_failed
        report.update(layers=layers, traced_passes=walls,
                      traced_errors=[p["errors"] for p in tpasses])
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(summary[k]), "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"report": report}, sort_keys=True, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
