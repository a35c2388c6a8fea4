#!/usr/bin/env python3
"""Crawl-loop benchmark: runs one workload of BENCHMARK.json against the
package's public entry points and prints its metrics.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is a fresh child process
(perfbench/child.py) in its own process group at local[<usable CPUs>],
with a wall cap after which the whole group is killed. The child's
per-operation records are flushed as they finish, so a killed run still
reports. Its temporary store lives under .perfbench/ and is deleted
afterwards. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). See
perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_small", "seed_ingest")
OP_NAMES = {  # repeated operation → the report's metric names
    "crawl_small": ("round", "round_s_p50", "crawl_urls_per_s", "URL/s"),
    "seed_ingest": ("batch", "ingest_batch_s_p50", "ingest_urls_per_s", "req/s"),
}
# job counts per operation measured at the commit that defined the benchmark
REFERENCE_JOBS = {"crawl_small": 45, "seed_ingest": 27}
CAP_S = 170.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def host_facts() -> dict:
    mem = next(line for line in _read("/proc/meminfo").splitlines()
               if line.startswith("MemTotal"))
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(int(mem.split()[1]) / 2**20, 1),
            "loadavg": _read("/proc/loadavg").split()[:3]}


def session_pids(sid: int) -> list[int]:
    """Live processes of the session `sid` (the child started one)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _read(f"/proc/{name}/stat").rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            total += int(_read(f"/proc/{pid}/statm").split()[1]) * PAGE
        except OSError:
            pass
    return total


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Wait for the session's processes to end; TERM then KILL stragglers."""
    deadline = time.time() + grace_s
    sig = None
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            deadline = time.time() + grace_s
        if sig:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.2)


def heap_mb(setting: str) -> float:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    s = setting.strip().lower()
    return float(s[:-1]) * units[s[-1]] if s[-1] in units else float(s) / 2**20


def load_records(path: str) -> list[dict]:
    recs = []
    if os.path.exists(path):
        for line in _read(path).splitlines():
            try:
                recs.append(json.loads(line))
            except ValueError:  # a line cut by a kill
                pass
    return recs


def median(xs):
    return statistics.median(xs) if xs else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a TERM to this process still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "openslack_crawler_spark")):
        print(f"perfbench: no openslack_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(_read(os.path.join(ROOT, "BENCHMARK.json")))

    facts = host_facts()
    cpus = facts["nproc"]
    rundir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    work, tmp = os.path.join(rundir, "work"), os.path.join(rundir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    out = os.path.join(rundir, "records.jsonl")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    log_path = os.path.join(rundir, "child.log")
    peak, killed = 0, False
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            while proc.poll() is None:
                peak = max(peak, rss_bytes(session_pids(proc.pid)))
                if time.time() - t0 > CAP_S:
                    os.killpg(proc.pid, signal.SIGKILL)
                    killed = True
                    break
                time.sleep(0.2)
        finally:
            if proc.poll() is None and not killed:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            stop_session(proc.pid)
    facts["loadavg_after"] = host_facts()["loadavg"]
    recs = load_records(out)
    log_tail = _read(log_path)[-4000:]
    shutil.rmtree(rundir, ignore_errors=True)

    setup = next((r for r in recs if r["kind"] == "setup"), None)
    if setup is None:
        print(log_tail, file=sys.stderr)
        print("perfbench: set-up did not finish", file=sys.stderr)
        return 1
    op_kind, op_metric, urls_metric, urls_unit = OP_NAMES[args.workload]
    ops = [r for r in recs if r["kind"] == "op"]
    checks = [r for r in recs if r["kind"] == "check"]
    store = next((r for r in recs if r["kind"] == "store"), None)
    attempted = max(sum(r["n"] for r in recs if r["kind"] == "planned"), 1)
    succeeded = sum(r["ok"] for r in ops + checks)
    failed = attempted - succeeded
    boots = [o["wall_s"] for o in ops if o["ok"] and o["op"] == "bootstrap"]
    warm = [o["wall_s"] for o in ops if o["ok"] and o["op"] == "warmup"]
    reps = [o for o in ops if o["ok"] and o["op"] == op_kind]
    walls = [o["wall_s"] for o in reps]
    e2e = {
        "setup_s": setup["session_s"] + median(setup["materialise_s"]) + warm[0] if warm else None,
        "bootstrap_s": median(boots),
        "op_s_p50": median(walls),
        "op_urls_per_s": median([o["urls"] / o["wall_s"] for o in reps]),
        "store_bytes_per_url": store["store_bytes"] / store["seen_rows"] if store else None,
        "peak_rss_mb": peak / 2**20,
    }

    p = print
    p(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
      f"trace={args.trace}{'  KILLED at the wall cap' if killed else ''}")
    p(f"host: nproc={cpus} MemTotal={facts['mem_total_gb']} GB "
      f"loadavg before={' '.join(facts['loadavg'])} after={' '.join(facts['loadavg_after'])} "
      f"pyspark={_pyspark_version()} SPARK_GRAFT_CPUS={setup['cpus']} master={setup['master']} "
      f"driver heap={setup['driver_memory']}")
    p(f"set-up: session {setup['session_s']:.2f} s + median materialise "
      f"{median(setup['materialise_s']):.2f} s (of {_fmt(setup['materialise_s'])}) "
      f"+ warm-up {op_kind} {_fmt(warm)} s")
    marks = {r["kind"]: r["t"] - t0 for r in recs if r["kind"] in ("setup", "end")}
    last_op = max((r["t"] - t0 for r in ops), default=None)
    last_check = max((r["t"] - t0 for r in checks), default=None)
    p(f"timeline (s from spawn): set-up done {_num(marks.get('setup'))}, last operation "
      f"{_num(last_op)}, last check {_num(last_check)}, child done {_num(marks.get('end'))}, "
      f"run done {time.time() - t0:.1f}")
    p(f"walls (s): bootstrap {_fmt(boots)}; timed {op_kind} {_fmt(walls)}")
    p("checks: " + "; ".join(
        f"{c['name']} {'ok' if c['ok'] else 'FAILED'} ({c['detail']}; {c['s']:.1f} s)"
        for c in checks))
    # per-workload names; the JSON line uses BENCHMARK.json's shared ones
    vals = dict(e2e, **{op_metric: e2e["op_s_p50"], urls_metric: e2e["op_urls_per_s"]})
    counts = {"bootstrap_s": len(boots), op_metric: len(walls)}
    for name, unit in [("setup_s", "s"), ("bootstrap_s", "s"),
                       ("crawl_urls_per_s", "URL/s"), ("round_s_p50", "s"),
                       ("ingest_urls_per_s", "req/s"), ("ingest_batch_s_p50", "s"),
                       ("store_bytes_per_url", "B"), ("peak_rss_mb", "MB")]:
        n = f" (n={counts[name]})" if name in counts else ""
        p(f"  {name} = {_num(vals.get(name))} {unit}{n}")
    p(f"  op_fail_frac = {failed / attempted:.4f} ratio ({failed} of {attempted} operations)")

    if args.trace:
        trace = next((r for r in recs if r["kind"] == "trace"), None)
        if trace is None:
            print(log_tail, file=sys.stderr)
            print("perfbench: traced run left no trace", file=sys.stderr)
            return 1
        values = dict(trace["per_layer"])
        values["session.start_s"] = setup["session_s"]
        values["session.driver_heap_mb"] = heap_mb(setup["driver_memory"])
        values["session.peak_rss_mb"] = e2e["peak_rss_mb"]
        values["traced.op_s_p50"] = e2e["op_s_p50"]
        ref = REFERENCE_JOBS[args.workload]
        p(f"job count check: {_num(values['op.jobs'])} jobs per {op_kind} "
          f"({ref} at the commit that defined this benchmark)")
        for k, v in trace["crawl_only"].items():
            p(f"  {k} = {_num(v)}")
        tdir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        with open(tpath, "w") as f:
            json.dump({"facts": facts, "setup": setup, "e2e": e2e, **trace}, f)
        p(f"spans, jobs and replays: {os.path.relpath(tpath, ROOT)}")
        declared = spec["per_layer"]
        for m in declared:
            p(f"  {m['name']} = {_num(values.get(m['name']))} {m['unit']}")
    else:
        values = e2e
        declared = spec["end_to_end"]

    missing = [m["name"] for m in declared if values.get(m["name"]) is None]
    if missing:
        print(log_tail, file=sys.stderr)
        print(f"perfbench: no value for {', '.join(missing)}", file=sys.stderr)
        return 1
    correct = failed == 0 and not killed and all(c["ok"] for c in checks)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    if not correct:
        print(log_tail, file=sys.stderr)
    return 0 if correct else 1


def _pyspark_version() -> str:
    from importlib.metadata import PackageNotFoundError, version

    try:
        return version("pyspark")
    except PackageNotFoundError:
        return "unknown"


def _num(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def _fmt(xs) -> str:
    return "[" + ", ".join(f"{x:.2f}" for x in xs) + "]"


if __name__ == "__main__":
    sys.exit(main())
