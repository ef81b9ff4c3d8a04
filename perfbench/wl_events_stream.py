"""events_stream: four bounded streaming replays, one file per trigger,
each driven through the production ``foreachBatch`` parquet sink.
Checked against the same aggregates computed in Python from the
generated events."""

from __future__ import annotations

import collections
import os

import numpy as np

import gen

GAP_US = 30 * 60 * 10**6
ATTRIBUTION_US = 2 * 3600 * 10**6
STREAMS = ("hourly", "session", "running_totals", "attribution")


def _own_dir(sf_dir: str) -> str:
    """Stand-in for the package's staging step: the generator already
    wrote a directory of parquet files, and the benchmark keeps every
    file inside its own run directory."""
    return sf_dir


def _rows(table, cols, ndigits=None):
    d = table.to_pydict()
    rows = zip(*(d[c] for c in cols))
    if ndigits is None:
        return sorted(rows)
    return sorted(tuple(round(v, ndigits[i]) if i in ndigits else v
                        for i, v in enumerate(r)) for r in rows)


class EventsStream:
    name = "events_stream"
    ops = STREAMS
    sizes = {"full": {"n_events": 4000, "n_users": 400, "n_files": 2},
             "tiny": {"n_events": 1000, "n_users": 100, "n_files": 2}}

    def generate(self, root, rng, size):
        return gen.events_files(root, rng, **self.sizes[size])

    def reference(self, t):
        ts, users, etype, cents = t["ts_us"], t["user_id"], t["event_type"], t["cents"]
        hourly = collections.defaultdict(lambda: [0, 0])
        for w, e, c in zip((ts // 3_600_000_000 * 3600).tolist(), etype.tolist(),
                           cents.tolist()):
            hourly[(w, e)][0] += 1
            hourly[(w, e)][1] += c
        per_user = collections.defaultdict(list)
        for i in np.lexsort((ts, users)).tolist():
            per_user[int(users[i])].append(i)
        sessions, totals, pairs = [], [], []
        for u, idx in per_user.items():
            totals.append((u, len(idx), round(int(cents[idx].sum()) / 100.0, 4)))
            start, end, n, s = None, None, 0, 0
            for i in idx:
                if start is not None and ts[i] < end:
                    end, n, s = max(end, ts[i] + GAP_US), n + 1, s + cents[i]
                    continue
                if start is not None:
                    sessions.append((u, start // 10**6, end // 10**6, n, round(s / 100.0, 2)))
                start, end, n, s = ts[i], ts[i] + GAP_US, 1, cents[i]
            sessions.append((u, start // 10**6, end // 10**6, n, round(s / 100.0, 2)))
            buys = [i for i in idx if etype[i] == "purchase"]
            buy_ts = ts[buys]
            for i in idx:
                if etype[i] == "click":
                    lo = np.searchsorted(buy_ts, ts[i] - ATTRIBUTION_US, side="right")
                    hi = np.searchsorted(buy_ts, ts[i], side="right")
                    pairs += [(int(t["event_id"][i]), int(t["event_id"][buys[j]]), u)
                              for j in range(lo, hi)]
        return {
            "hourly": sorted((w, e, n, round(c / 100.0, 2), c * 10000 // n)
                             for (w, e), (n, c) in hourly.items()),
            "session": sorted((int(a), int(b), int(c), int(d), float(e))
                              for a, b, c, d, e in sessions),
            "running_totals": sorted(totals),
            "attribution": sorted(pairs),
        }

    def run_pass(self, spark, truth, out_dir, tr):
        from data_pipeline_rsna_spark.streaming import events_stream as es

        plans = {
            "hourly": (es.hourly_type_agg_stream, "complete"),
            "session": (es.session_agg_stream, "complete"),
            "running_totals": (es.user_running_totals_stream, "update"),
            "attribution": (es.attribution_join_stream, "append"),
        }
        out = {}
        staged = es._staged_events_dir
        es._staged_events_dir = _own_dir
        try:
            for name, (build, mode) in plans.items():
                with tr.span(f"stream.{name}"):
                    events = es.read_events_stream(spark, truth["dir"],
                                                   max_files_per_trigger=1)
                    out[name] = es.run_bounded_to_parquet(
                        build(events), os.path.join(out_dir, name, "out"),
                        os.path.join(out_dir, name, "ckpt"), mode=mode).toArrow()
        finally:
            es._staged_events_dir = staged
        return out

    def check(self, out, ref):
        got = {
            "hourly": _rows(out["hourly"], ("window_start", "event_type", "n",
                                            "sum_value", "avg_micro"), {3: 2}),
            "session": _rows(out["session"], ("user_id", "session_start", "session_end",
                                              "n_events", "sum_value"), {4: 2}),
            "attribution": _rows(out["attribution"], ("click_id", "purchase_id", "user_id")),
        }
        last = {}
        for u, n, s in _rows(out["running_totals"], ("user_id", "n_events", "sum_value")):
            last[u] = (u, n, round(s, 4))  # rows sort by n, so the last is the total
        got["running_totals"] = sorted(last.values())
        return {op: f"{len(got[op])} rows vs {len(ref[op])} expected, "
                    f"{len(set(got[op]) ^ set(ref[op]))} differ"
                for op in STREAMS if got[op] != ref[op]}

    def layer_metrics(self, out, spans, jobs_of, probe, truth):
        return {}  # the stream.* metrics come from the progress listener
