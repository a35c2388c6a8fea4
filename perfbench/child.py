"""One benchmark run inside a fresh process (started by run.py).

Set-up: session start and the workload's inputs materialised SETUP_REPS
times (the median counts). Then one crawl (or ingest) in a fresh store,
closed loop with one client, each operation starting when the previous
commit returns:

  bootstrap            timed: the first bootstrap of the process
  operation 0          the warm-up: pays the first-shot codegen, JIT and
                       Python-worker cost of the repeated operation
  operations 1, 2, ... timed: at least MIN_OPS of them, then a new one
                       starts while fewer than --seconds have passed
                       since operation 1 started

Output checks follow, untimed. Every record is appended to --out as one
JSON line and flushed as soon as it exists.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
from openslack_crawler_spark.plans import round_job as rj  # noqa: E402
from openslack_crawler_spark.session import get_spark  # noqa: E402
from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat  # noqa: E402
from openslack_crawler_spark.streaming import ingest  # noqa: E402

SETUP_REPS = 3


class Recorder:
    def __init__(self, path: str):
        self.f = open(path, "a")

    def write(self, rec: dict) -> None:
        rec["t"] = time.time()
        self.f.write(json.dumps(rec) + "\n")
        self.f.flush()
        os.fsync(self.f.fileno())

    def close(self) -> None:
        self.f.close()


class Workload:
    op_kind = ""  # the repeated operation: "round" or "batch"
    MIN_OPS = 1  # timed operations every run makes, whatever --seconds
    MAX_OPS = 0  # cap on timed operations per run

    def __init__(self, spark, seed: int, work: str, rec: Recorder):
        self.spark, self.seed, self.work, self.rec = spark, seed, work, rec
        self.tracer = None
        self.cfg = rj.CrawlConfig(n_hosts=self.N_HOSTS, k_per_host=8, maxdepth=3)

    @contextlib.contextmanager
    def op(self, kind: str, i: int):
        rec = {"kind": "op", "op": kind, "i": i, "ok": False}
        span = self.tracer.op(f"{kind}-{i}", kind) if self.tracer else contextlib.nullcontext()
        t0 = time.time()
        try:
            with span:
                yield rec
            rec["ok"] = True
        finally:
            rec["wall_s"] = time.time() - t0
            self.rec.write(rec)

    def run(self, inp: dict, seconds: float):
        """Bootstrap, the warm-up operation, then timed operations. Returns
        the store and the first enqueue_seq assigned after bootstrap."""
        fmt = SnapshotParquetFormat(f"{self.work}/store", self.spark)
        seeds = self.spark.read.parquet(inp["seeds"])
        robots = self.spark.read.parquet(inp["robots"])
        self.rec.write({"kind": "planned", "n": 2 + self.MIN_OPS})
        with self.op("bootstrap", 0):
            rj.bootstrap(fmt, seeds, robots, self.cfg)
        first_seq = fmt.meta()["next_seq"]
        with self.op("warmup", 0) as o:
            self.step(fmt, inp, 0, o)
        t_start = time.time()
        for i in range(1, self.MAX_OPS + 1):
            if i > self.MIN_OPS:
                if time.time() - t_start >= seconds:
                    break
                self.rec.write({"kind": "planned", "n": 1})
            with self.op(self.op_kind, i) as o:
                self.step(fmt, inp, i, o)
            if i == 1:  # a fixed point, so the work behind it never varies
                nbytes, _ = tracing.dir_size(fmt.root)
                self.rec.write({"kind": "store", "store_bytes": nbytes,
                                "seen_rows": fmt.read("seen").count()})
        return fmt, first_seq


class CrawlSmall(Workload):
    """20k seeds over 50 Zipf hosts, k=8, maxdepth=3. Every host holds
    more than k seeds, so each round fetches ~400 URLs: tiny, alike
    rounds whose time is the fixed per-round cost."""

    N_SEEDS, N_HOSTS, MAX_OPS = 20_000, 50, 8
    op_kind = "round"

    def materialise(self, out: str) -> dict:
        return inputs.write_crawl_inputs(self.spark, out, self.seed, self.N_SEEDS, self.N_HOSTS)

    def step(self, fmt, inp: dict, i: int, o: dict) -> None:
        stats = rj.run_round(fmt, self.cfg)
        o.update(urls=stats["fetched"], new=stats["enqueued"])

    def checks(self, fmt, first_seq: int, inp: dict, ops: list[dict]):
        k = self.cfg.k_per_host
        return [
            ("oracle_parity", lambda: checks.oracle_parity(
                self.spark, fmt, inp, self.N_HOSTS, k, self.cfg.maxdepth, fmt.meta()["round"])),
            ("seen_unique", lambda: checks.seen_unique(fmt)),
            ("seq_dense", lambda: checks.seq_dense(fmt, first_seq)),
            ("fetches_per_host", lambda: checks.fetches_per_host(fmt, k)),
            ("fetched_left_frontier", lambda: checks.fetched_left_frontier(fmt)),
        ]


class SeedIngest(Workload):
    """Bootstrap of 30k seeds (30% non-canonical, 10% duplicates), then
    micro-batches of 20k JSON requests through parse_requests +
    enqueue_batch (50% already-seen URLs, 30% of the fresh ones
    non-canonical). A batch costs about as much as the fixed cost of its
    27 Spark jobs, so every run times three and reports their median."""

    N_SEEDS, N_HOSTS, BATCH, MIN_OPS, MAX_OPS = 30_000, 2_000, 20_000, 3, 6
    MESSY, DUP = 0.3, 0.1
    op_kind = "batch"

    def materialise(self, out: str) -> dict:
        return inputs.write_ingest_inputs(
            self.spark, out, self.seed, self.N_SEEDS, self.N_HOSTS,
            self.BATCH, 1 + self.MAX_OPS, self.MESSY, self.DUP,
        )

    def step(self, fmt, inp: dict, i: int, o: dict) -> None:
        before = fmt.meta()["next_seq"]
        ingest.enqueue_batch(
            fmt, ingest.parse_requests(self.spark.read.text(inp["batches"][i])), i)
        o.update(urls=self.BATCH, new=fmt.meta()["next_seq"] - before)

    def checks(self, fmt, first_seq: int, inp: dict, ops: list[dict]):
        want = inputs.ingest_fresh_rows(self.BATCH)

        def new_rows():
            got = [o.get("new") for o in ops]
            return all(g == want for g in got), f"new rows per batch {got}, want {want}"

        def frontier_rows():
            n0 = fmt.read("frontier", snapshot_id=0).count()
            n = fmt.read("frontier").count()
            added = sum(o.get("new", 0) for o in ops)
            return n == n0 + added, f"frontier {n} rows, want {n0} + {added}"

        return [
            ("new_frac", new_rows),
            ("frontier_rows", frontier_rows),
            ("seen_unique", lambda: checks.seen_unique(fmt)),
            ("seq_dense", lambda: checks.seq_dense(fmt, first_seq)),
        ]


WORKLOADS = {"crawl_small": CrawlSmall, "seed_ingest": SeedIngest}


def run_checks(rec: Recorder, todo: list) -> None:
    """Run the output checks side by side (they are independent and
    mostly small jobs); a crashing check is a failed check."""
    rec.write({"kind": "planned", "n": len(todo)})

    def one(fn):
        t = time.time()
        try:
            ok, detail = fn()
        except Exception as e:
            traceback.print_exc()
            ok, detail = False, f"{type(e).__name__}: {e}"
        return bool(ok), detail, time.time() - t

    with ThreadPoolExecutor(len(todo)) as pool:
        results = list(pool.map(one, [fn for _, fn in todo]))
    for (name, _), (ok, detail, took) in zip(todo, results):
        rec.write({"kind": "check", "name": name, "ok": ok, "detail": detail, "s": took})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="process spawn time")
    args = ap.parse_args()
    rec = Recorder(args.out)

    evdir = f"{args.work}/eventlog"
    conf = tracing.session_conf(evdir) if args.trace else None
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.time() - args.t0

    cls = WORKLOADS[args.workload]
    wl = cls(spark, args.seed, args.work, rec)
    mats, inp = [], None
    for r in range(SETUP_REPS):
        t = time.time()
        got = wl.materialise(f"{args.work}/in-{r}")
        mats.append(time.time() - t)
        inp = inp or got
    rec.write({
        "kind": "setup", "session_s": session_s, "materialise_s": mats,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"), "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
    })

    tracer = None
    if args.trace:
        tracer = wl.tracer = tracing.Tracer(spark, evdir)
        tracer.install()

    ops = []
    try:
        fmt, first_seq = wl.run(inp, args.seconds)
    except Exception:
        traceback.print_exc()
    else:
        with open(args.out) as f:
            ops = [r for r in map(json.loads, f) if r["kind"] == "op" and r["op"] != "bootstrap"]
        run_checks(rec, wl.checks(fmt, first_seq, inp, ops))

    if tracer is not None:
        replays = tracer.replay(("bootstrap", cls.op_kind))
        tracer.uninstall()
        spark.stop()
        timed = [r for r in ops if r["op"] == cls.op_kind]
        summary = tracer.summarize(replays, int(os.environ["SPARK_GRAFT_CPUS"]), cls.op_kind,
                                   timed[-1].get("new", 0) if timed else 0)
        rec.write({"kind": "trace", **summary})
    else:
        spark.stop()
    rec.write({"kind": "end"})
    rec.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
