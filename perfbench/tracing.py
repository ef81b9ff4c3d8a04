"""Trace collector: spans around the benchmark's calls into each layer,
a /proc process-tree sampler, a streaming-progress listener, and a
folder that turns Spark's JSON event log into per-span engine metrics.

Nothing here touches the package: spans wrap the benchmark's own calls,
and the one span inside a package call (the TFRecord sink inside
``run_rsna_pipeline``) comes from a wrapper the benchmark installs on
the module attribute for the traced run only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")

# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat_fields(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(v) for v in st[11:15])
    return total / _HZ


def tree_pss_mb(root: int | None = None) -> float:
    """Proportional set size of the tree: pages shared between forked
    Python workers count once, split among their sharers."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _HZ


class ProcSampler:
    """Background thread sampling the process tree's memory (PSS);
    ``peak_mb`` is the largest reading since ``start``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval_s)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Records ``(name, start, end)`` wall-clock spans (epoch seconds, the
    clock Spark's event log uses) and tags the jobs each span launches
    with ``setJobGroup(<prefix><name>)``. Spans nest; the innermost one
    owns the job group."""

    def __init__(self, spark, prefix: str = ""):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        group = self.prefix + name
        self._stack.append(group)
        self.sc.setJobGroup(group, group)
        rec = {"name": name, "group": group, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


class NullTracer:
    """The measured run's tracer: spans cost one no-op context."""

    spans = ()

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the time covered by spans
    nested directly inside it."""
    out: dict[str, float] = {}
    for s in spans:
        inner = [c for c in spans if c is not s
                 and s["start"] <= c["start"] and c["end"] <= s["end"]]
        direct = [c for c in inner if not any(
            o is not c and o["start"] <= c["start"] and c["end"] <= o["end"]
            for o in inner)]
        dur = s["end"] - s["start"] - sum(c["end"] - c["start"] for c in direct)
        out[s["name"]] = out.get(s["name"], 0.0) + max(dur, 0.0)
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress report as
    a dict, keyed by the query's run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: dict[str, list[dict]] = {}
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.progress.setdefault(str(event.runId), [])

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.setdefault(p["runId"], []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.add(str(event.runId))

        def wait_terminated(self, run_ids, timeout_s: float = 10.0) -> bool:
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                with self._lock:
                    if set(run_ids) <= self.terminated:
                        return True
                time.sleep(0.02)
            return False

        def batches(self, run_ids) -> list[dict]:
            with self._lock:
                return [p for r in run_ids for p in self.progress.get(r, [])]

    return ProgressListener()


def stream_metrics(batches: list[dict], last_by_query: list[dict]) -> dict:
    """Fold progress reports of one pass into the ``stream.*`` metrics.
    ``last_by_query`` holds each query's final progress report, whose
    state-operator totals are the state left at the end of the drive."""
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000.0  # noqa: E731
    trig = sum(dur(p, "triggerExecution") for p in batches)
    state_ops = [op for p in last_by_query for op in p.get("stateOperators", [])]
    return {
        "stream.batches": len(batches),
        "stream.batch_p50_s": (statistics.median(dur(p, "triggerExecution")
                                                 for p in batches)
                               if batches else 0.0),
        "stream.add_batch_s": sum(dur(p, "addBatch") for p in batches),
        "stream.wal_commit_s": sum(dur(p, "walCommit") for p in batches),
        "stream.state_commit_s": sum(
            op.get("commitTimeMs", 0) / 1000.0
            for p in batches for op in p.get("stateOperators", [])),
        "stream.state_rows": sum(op.get("numRowsTotal", 0) for op in state_ops),
        "stream.state_mb": sum(op.get("memoryUsedBytes", 0)
                               for op in state_ops) / 2**20,
        "stream.input_rows_per_s": (sum(p.get("numInputRows", 0) for p in batches)
                                    / trig if trig else 0.0),
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """The uncompressed event-log files under ``log_dir``: Spark 4 writes
    a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory; a plain
    single-file log is accepted too."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p) and not p.endswith(".inprogress"))


_TASK_KEYS = (
    "tasks", "task_failures", "exec_run_s", "exec_cpu_s", "gc_s",
    "sched_wait_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "input_mb", "output_mb",
)


def fold_event_log(lines) -> list[dict]:
    """One record per job: id, job group, submit/end epoch seconds,
    result, stage count and the summed task metrics of its stages.

    A stage's tasks are charged to the first job that lists the stage
    (later jobs list it only as a skipped, already-computed parent)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "ok": None,
                "stages": 0,
                **{k: 0 for k in _TASK_KEYS},
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j["end"] = e["Completion Time"] / 1000.0
                j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            j = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
            if j is not None:
                j["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            if j is None:
                continue
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            j["tasks"] += 1
            ok = e.get("Task End Reason", {}).get("Reason") == "Success"
            if not ok or info.get("Failed") or info.get("Attempt", 0) > 0:
                j["task_failures"] += 1
            run_ms = m.get("Executor Run Time", 0)
            deser_ms = m.get("Executor Deserialize Time", 0)
            ser_ms = m.get("Result Serialization Time", 0)
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            getting_ms = (info.get("Finish Time", 0) - info["Getting Result Time"]
                          if info.get("Getting Result Time") else 0)
            sched_ms = max(wall_ms - run_ms - deser_ms - ser_ms - getting_ms, 0)
            j["sched_wait_s"] += (sched_ms + deser_ms) / 1000.0
            j["exec_run_s"] += run_ms / 1000.0
            j["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            j["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 2**20
            j["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            j["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 2**20
            j["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
            j["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / 2**20
    return sorted(jobs.values(), key=lambda j: j["job"])


def read_event_log(log_dir: str) -> list[dict]:
    files = event_log_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")

    def lines():
        for path in files:
            with open(path) as f:
                yield from f

    return fold_event_log(lines())


def jobs_in(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """Jobs launched inside any of ``spans``: by job group when the job
    carries one of the spans' groups, else by submission time (streaming
    micro-batch jobs carry the query's run id as their group)."""
    groups = {s["group"] for s in spans}
    out = []
    for j in jobs:
        if j["group"] in groups or any(
                s["start"] <= j["submit"] <= s["end"] for s in spans):
            out.append(j)
    return out


def busy_s(jobs: list[dict], start: float, end: float) -> float:
    """Length of the union of job intervals, clipped to ``[start, end]``."""
    iv = sorted((max(j["submit"], start), min(j["end"] or end, end))
                for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def engine_metrics(jobs: list[dict], start: float, end: float) -> dict:
    """The ``engine.*`` metrics of one pass: its jobs' summed task
    metrics, and the pass wall time during which no job was running."""
    out = {
        "engine.jobs": len(jobs),
        "engine.stages": sum(j["stages"] for j in jobs),
        "engine.driver_s": max(end - start - busy_s(jobs, start, end), 0.0),
    }
    for k in _TASK_KEYS:
        if k != "gc_s":
            out[f"engine.{k}"] = sum(j[k] for j in jobs)
    return out
