"""Tracing for the crawl-loop benchmark, done entirely from outside the
package: Spark's event log, one job group per operation, wrapper spans
around the package's public layer functions, and capture-and-replay for
the lazy layers.

- Every operation (bootstrap, run_round, enqueue_batch) runs under its
  own job group, so the event log attributes each Spark job to it.
- The layer functions that round_job and ingest look up at call time
  are replaced by wrappers. A wrapper opens a span and publishes its id
  as the local property `perfbench.span`, so each job maps to its
  innermost span. Eager layers (with_dense_seq, commit) are timed by
  their span.
- Lazy layers (frontier, politeness, linkextract, url, seen_filter) only
  build plans; their work runs inside the next eager call. Their
  wrapper records the real call's arguments. After the run, each input
  DataFrame is materialised once and the layer's public function is
  timed on it alone, ending in a `noop` write; the time of a `noop`
  write of the bare input is subtracted.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from openslack_crawler_spark.operators import frontier, linkextract, politeness, sequence
from openslack_crawler_spark.plans import round_job
from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat
from openslack_crawler_spark.streaming import ingest

SPAN_PROP = "perfbench.span"

# (module, attribute, layer). Lazy layers are captured and replayed.
LAZY = [
    (frontier, "dequeue_top_k_per_host", "frontier.dequeue"),
    (frontier, "remove_dequeued", "frontier.remove_dequeued"),
    (politeness, "robots_filter", "politeness.robots_filter"),
    (politeness, "assign_fetch_slots", "politeness.assign_fetch_slots"),
    (round_job, "extract_link_spans", "linkextract.extract_link_spans"),
    (round_job, "first_per_page", "linkextract.first_per_page"),
    (round_job, "links_to_candidates", "linkextract.links_to_candidates"),
    (round_job, "with_url_columns", "url.with_url_columns"),
    (linkextract, "with_url_columns", "url.with_url_columns"),
    (ingest, "with_url_columns", "url.with_url_columns"),
    (round_job, "first_wins_dedup", "seen_filter.first_wins_dedup"),
    (ingest, "first_wins_dedup", "seen_filter.first_wins_dedup"),
    (round_job, "filter_unseen", "seen_filter.filter_unseen"),
    (ingest, "filter_unseen", "seen_filter.filter_unseen"),
]
EAGER = [
    (round_job, "with_dense_seq", "sequence.with_dense_seq"),
    (sequence, "with_dense_seq", "sequence.with_dense_seq"),
]


def session_conf(eventlog_dir: str) -> dict:
    """Session settings for a traced run: a plain, uncompressed,
    non-rolling event log."""
    os.makedirs(eventlog_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": eventlog_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def dir_size(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


class Tracer:
    def __init__(self, spark, eventlog_dir: str):
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.ops: list[dict] = []  # {id, kind, span}
        self.commits: list[dict] = []
        self.captures: dict[str, list] = {}  # op kind -> calls of its latest op
        self.active = False
        self._restore: list = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self.stack[-1] if self.stack else None,
               "op": self.ops[-1]["id"] if self.ops else None, "t0": time.time()}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(self.stack[-1]) if self.stack else None)

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        """One operation: its own job group and top-level span."""
        self.sc.setJobGroup(op_id, op_id)
        self.ops.append({"id": op_id, "kind": kind})
        self.captures[kind] = []
        self.active = True
        try:
            with self.span(kind) as s:
                self.ops[-1]["span"] = s
                yield
        finally:
            self.active = False
            self.sc.setJobGroup("bench", "bench")

    # -- wrappers ----------------------------------------------------------
    def install(self):
        self.sc.setJobGroup("bench", "bench")
        for mod, attr, layer in LAZY + EAGER:
            lazy = (mod, attr, layer) in LAZY
            self._patch(mod, attr, self._wrap(getattr(mod, attr), layer, lazy))
        self._patch(SnapshotParquetFormat, "commit", self._wrap_commit(SnapshotParquetFormat.commit))

    def _patch(self, owner, attr, fn):
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def uninstall(self):
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def _wrap(self, fn, layer: str, lazy: bool):
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer):
                out = fn(*args, **kwargs)
            if lazy:
                self.captures[self.ops[-1]["kind"]].append((layer, fn, args, kwargs))
            return out
        return wrapper

    def _wrap_commit(self, fn):
        tracer = self

        def commit(fmt, updates=None, meta=None, appends=None):
            if not tracer.active:
                return fn(fmt, updates, meta, appends)
            with tracer.span("table_format.commit") as s:
                sid = fn(fmt, updates, meta, appends)
            tables = fmt.current_manifest()["tables"]
            written = appended = files = 0
            for name in list(updates or {}) + list(appends or {}):
                b, n = dir_size(tables[name][-1])
                written += b
                files += n
                if name in (appends or {}):
                    appended += b
            files += 2  # manifest + CURRENT
            tracer.commits.append({
                "op": tracer.ops[-1]["id"], "kind": tracer.ops[-1]["kind"],
                "s": s["t1"] - s["t0"], "bytes": written, "files": files,
                "write_amp": written / appended if appended else None,
            })
            return sid
        return commit

    # -- replay ------------------------------------------------------------
    def replay(self, kinds: tuple[str, ...]) -> list[dict]:
        """Time each captured lazy-layer call of the latest operation of
        each of `kinds` on its materialised real input (of a bootstrap,
        only the canonicalizer: no other bootstrap replay feeds a metric)."""
        self.sc.setJobGroup("replay", "replay")
        out = []
        for kind in kinds:
            for layer, fn, args, kwargs in self.captures.get(kind, []):
                if kind == "bootstrap" and layer != "url.with_url_columns":
                    continue
                out.append({"kind": kind, "layer": layer, **self._replay_one(fn, args, kwargs)})
        self.sc.setJobGroup("bench", "bench")
        return out

    @staticmethod
    def _noop(df: DataFrame) -> tuple[float, int]:
        """Wall time of writing df to the `noop` sink, and its row count
        (observed in the same job)."""
        obs = Observation()
        t = time.time()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite").save()
        return time.time() - t, obs.get["n"]

    def _replay_one(self, fn, args, kwargs) -> dict:
        mats = [a.localCheckpoint() if isinstance(a, DataFrame) else a for a in args]
        base_s, rows_in = self._noop(next(a for a in mats if isinstance(a, DataFrame)))
        t = time.time()
        _, rows_out = self._noop(fn(*mats, **kwargs))
        fn_s = time.time() - t
        return {"rows_in": rows_in, "rows_out": rows_out, "base_s": base_s,
                "fn_s": fn_s, "net_s": max(fn_s - base_s, 0.0)}

    # -- event log ---------------------------------------------------------
    def read_eventlog(self) -> dict[int, dict]:
        """Jobs from the (finished) event log: group, span, SQL execution,
        interval, and summed task metrics of the stages they ran."""
        jobs, stage_job, stage_m = {}, {}, {}
        for name in os.listdir(self.eventlog_dir):
            with open(os.path.join(self.eventlog_dir, name)) as f:
                for line in f:
                    e = json.loads(line)
                    ev = e.get("Event")
                    if ev == "SparkListenerJobStart":
                        p = e.get("Properties") or {}
                        jid = e["Job ID"]
                        jobs[jid] = {"group": p.get("spark.jobGroup.id"),
                                     "span": p.get(SPAN_PROP),
                                     "sql": p.get("spark.sql.execution.id"),
                                     "t0": e["Submission Time"] / 1000.0}
                        for st in e.get("Stage IDs", []):
                            stage_job.setdefault(st, jid)
                    elif ev == "SparkListenerJobEnd":
                        jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                    elif ev == "SparkListenerTaskEnd":
                        tm = e.get("Task Metrics") or {}
                        m = stage_m.setdefault(e["Stage ID"], [0, 0, 0])
                        m[0] += tm.get("Executor Run Time", 0)
                        m[1] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        m[2] += tm.get("Disk Bytes Spilled", 0)
        for j in jobs.values():
            j.update(run_ms=0, shuffle_write=0, spill=0)
        for st, (run_ms, sw, sp) in stage_m.items():
            j = jobs.get(stage_job.get(st))
            if j is not None:
                j["run_ms"] += run_ms
                j["shuffle_write"] += sw
                j["spill"] += sp
        return jobs

    # -- summary -----------------------------------------------------------
    def summarize(self, replays: list[dict], cores: int, op_kind: str, last_new: int) -> dict:
        """Per-layer metrics. `op_kind` is the workload's repeated
        operation ('round' or 'batch'); its values are medians over all
        such operations of the run. `last_new` is the number of new
        frontier rows the latest such operation added."""
        jobs = self.read_eventlog()
        span_name = {s["id"]: s["name"] for s in self.spans}
        per_op = []
        for o in self.ops:
            s = o["span"]
            wall = s["t1"] - s["t0"]
            mine = [j for j in jobs.values() if j["group"] == o["id"]]
            busy = _union_s([(max(j["t0"], s["t0"]), min(j.get("t1", s["t1"]), s["t1"]))
                             for j in mine])
            run_s = sum(j["run_ms"] for j in mine) / 1000.0
            by_layer = {}
            for j in mine:
                layer = span_name.get(int(j["span"])) if j["span"] is not None else None
                by_layer[layer] = by_layer.get(layer, 0) + 1
            seq_spans = [x for x in self.spans
                         if x["op"] == o["id"] and x["name"] == "sequence.with_dense_seq"]
            per_op.append({
                "id": o["id"], "kind": o["kind"], "wall_s": wall, "jobs": len(mine),
                "sql_execs": len({j["sql"] for j in mine if j["sql"] is not None}),
                "busy_s": busy, "gap_s": wall - busy, "executor_run_s": run_s,
                "core_util": run_s / (wall * cores) if wall > 0 else None,
                "shuffle_write_bytes": sum(j["shuffle_write"] for j in mine),
                "spill_bytes": sum(j["spill"] for j in mine),
                "jobs_by_span": by_layer,
                "dense_seq_s": sum(x["t1"] - x["t0"] for x in seq_spans),
                "dense_seq_calls": len(seq_spans),
            })
        ops = [p for p in per_op if p["kind"] == op_kind]
        boots = [p for p in per_op if p["kind"] == "bootstrap"]
        commits = [c for c in self.commits if c["kind"] == op_kind]

        def rep(layer, kind=op_kind):
            return [r for r in replays if r["layer"] == layer and r["kind"] == kind]

        def one(layer, key, kind=op_kind):
            rs = rep(layer, kind)
            return sum(r[key] for r in rs) if rs else None

        def frac_dropped(layer):
            rin, rout = one(layer, "rows_in"), one(layer, "rows_out")
            return 1.0 - rout / rin if rin else None

        url = rep("url.with_url_columns") + rep("url.with_url_columns", "bootstrap")
        url_rows = sum(r["rows_in"] for r in url)
        dedup_in = one("seen_filter.first_wins_dedup", "rows_in")
        per_layer = {
            "op.jobs": _med([p["jobs"] for p in ops]),
            "op.sql_execs": _med([p["sql_execs"] for p in ops]),
            "op.driver_gap_s": _med([p["gap_s"] for p in ops]),
            "op.job_busy_s": _med([p["busy_s"] for p in ops]),
            "op.core_util": _med([p["core_util"] for p in ops]),
            "op.executor_run_s": _med([p["executor_run_s"] for p in ops]),
            "op.shuffle_write_bytes": _med([p["shuffle_write_bytes"] for p in ops]),
            "op.spill_bytes": _med([p["spill_bytes"] for p in ops]),
            "bootstrap.jobs": _med([p["jobs"] for p in boots]),
            "bootstrap.shuffle_write_bytes": _med([p["shuffle_write_bytes"] for p in boots]),
            "bootstrap.executor_run_s": _med([p["executor_run_s"] for p in boots]),
            "table_format.commit_s": _med([c["s"] for c in commits]),
            "table_format.commit_bytes": _med([c["bytes"] for c in commits]),
            "table_format.commit_files": _med([c["files"] for c in commits]),
            "table_format.write_amp": _med([c["write_amp"] for c in commits]),
            "table_format.jobs": _med([p["jobs_by_span"].get("table_format.commit", 0) for p in ops]),
            "sequence.dense_seq_s": _med([p["dense_seq_s"] for p in ops]),
            "sequence.calls": _med([p["dense_seq_calls"] for p in ops]),
            "sequence.jobs": _med([p["jobs_by_span"].get("sequence.with_dense_seq", 0) for p in ops]),
            "url.canonicalize_us_per_row":
                sum(r["net_s"] for r in url) / url_rows * 1e6 if url_rows else None,
            "seen_filter.dedup_s": one("seen_filter.first_wins_dedup", "net_s"),
            "seen_filter.dup_frac": frac_dropped("seen_filter.first_wins_dedup"),
            "seen_filter.antijoin_s": one("seen_filter.filter_unseen", "net_s"),
            "seen_filter.seen_hit_frac": frac_dropped("seen_filter.filter_unseen"),
            "op.new_frac": last_new / dedup_in if dedup_in else None,
        }
        crawl_only = {}
        if rep("frontier.dequeue"):
            crawl_only = {
                "frontier.dequeue_s": one("frontier.dequeue", "net_s"),
                "frontier.dequeue_rows_in": one("frontier.dequeue", "rows_in"),
                "frontier.dequeue_rows_out": one("frontier.dequeue", "rows_out"),
                "frontier.remove_dequeued_s": one("frontier.remove_dequeued", "net_s"),
                "politeness.slots_s": one("politeness.assign_fetch_slots", "net_s"),
                "politeness.robots_drop_frac": frac_dropped("politeness.robots_filter"),
                "linkextract.candidates_s": sum(
                    one(layer, "net_s") or 0.0
                    for layer in ("linkextract.extract_link_spans",
                                  "linkextract.first_per_page",
                                  "linkextract.links_to_candidates")),
                "linkextract.links_per_page":
                    one("linkextract.extract_link_spans", "rows_out")
                    / one("linkextract.extract_link_spans", "rows_in"),
            }
        return {"per_layer": per_layer, "crawl_only": crawl_only, "ops": per_op,
                "commits": self.commits, "replays": replays, "spans": self.spans}
