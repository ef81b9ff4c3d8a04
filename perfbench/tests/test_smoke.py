"""Tiny-input smoke runs of every workload through the real command: the
output checks pass, every end-to-end and per-layer metric named in
BENCHMARK.json is emitted, and each workload's own layer metrics are in
the report. Slow (a JVM start and several passes per run); run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# layer metrics each workload must report when traced
OWN_LAYERS = {
    "rsna_etl": (
        "labels.ingest_s", "relational.split_s", "augmentation.augment_s",
        "augmentation.rows_out", "pipelines.assemble_s", "pipelines.jobs",
        "sinks.tfrecord.write_s", "sinks.tfrecord.exec_cpu_s", "sinks.tfrecord.records",
        "sinks.tfrecord.bytes_per_record", "sinks.tfrecord.files",
        "sources.tfrecord.read_s", "sources.tfrecord.records"),
    "curation": (
        "sources.tfrecord.read_s", "sources.tfrecord.records", "dedup.exact_s",
        "dedup.minhash_s", "dedup.lsh_candidates", "dedup.lsh_useful_ratio",
        "dedup.prefix_jaccard_s", "dedup.prefix_jaccard_shuffle_mb",
        "dedup.tfidf_cosine_s", "dedup.tfidf_cosine_shuffle_mb",
        "similarity.topk_s", "similarity.exec_cpu_s"),
    "fixpoint": (
        "graph.pagerank_s", "graph.pagerank_jobs", "graph.bfs_s", "graph.bfs_jobs",
        "graph.hits_s", "graph.hits_jobs", "graph.kcore_s", "graph.kcore_jobs",
        "dedup.components_s", "dedup.components_jobs", "graph.driver_s"),
    "events_stream": (
        "stream.batches", "stream.batch_p50_s", "stream.add_batch_s",
        "stream.wal_commit_s", "stream.state_commit_s", "stream.state_rows",
        "stream.state_mb", "stream.input_rows_per_s"),
}
COMMON_LAYERS = (
    "session.start_s", "session.first_job_s", "session.peak_rss_mb", "session.gc_s",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.driver_s",
    "engine.sched_wait_s", "engine.exec_run_s", "engine.exec_cpu_s",
    "engine.shuffle_write_mb", "engine.shuffle_read_mb", "engine.spill_mb",
    "engine.input_mb", "engine.output_mb", "engine.task_failures", "trace_overhead_s")


def _run(args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", sorted(OWN_LAYERS))
def test_tiny_traced_run(workload):
    proc = _run(["--workload", workload, "--seed", "7", "--seconds", "0.1",
                 "--trace", "1", "--size", "tiny"])
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    report = json.loads(lines[-2])["report"]
    assert {m["name"] for m in SPEC["end_to_end"]} <= set(report["end_to_end"])
    assert all(v > 0 for v in report["end_to_end"].values())
    missing = set(OWN_LAYERS[workload] + COMMON_LAYERS) - set(report["layers"])
    assert not missing
    assert report["layers"]["engine.jobs"] > 0
    if workload == "rsna_etl":
        for p in report["traced_passes"]:
            assert p["self_sum_s"] <= p["wall_s"]


def test_end_to_end_metrics_untraced(tmp_path):
    proc = _run(["--workload", "fixpoint", "--seed", "3", "--seconds", "0.1",
                 "--trace", "0", "--size", "tiny"])
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["end_to_end"]}
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(metrics[k]["unit"] == units[k] and metrics[k]["value"] > 0 for k in metrics)


def test_fails_without_the_package(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark: exit
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "rsna_etl", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
