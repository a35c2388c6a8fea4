"""Output checks run after the measured window (untimed).

Each check returns (ok, detail). A failed or crashing check counts as a
failed operation in the run's result.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from openslack_crawler_spark.oracle import CrawlOracle
from openslack_crawler_spark.plans import round_job as rj


def seen_unique(fmt):
    """Seen url_hash is unique per crawlid."""
    dups = (
        fmt.read("seen").groupBy("crawlid", "url_hash").count()
        .filter(F.col("count") > 1).count()
    )
    return dups == 0, f"{dups} duplicated (crawlid, url_hash)"


def seq_dense(fmt, first_seq: int):
    """Every enqueue_seq the store ever assigned is unique, and the ones
    assigned after bootstrap are exactly [first_seq, next_seq). The seen
    table's added_seq carries the enqueue_seq of every accepted row."""
    next_seq = fmt.meta()["next_seq"]
    r = (
        fmt.read("seen").filter(F.col("added_seq").isNotNull())
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("added_seq").alias("nd"),
            F.count(F.when(F.col("added_seq") >= first_seq, 1)).alias("n_new"),
            F.min(F.when(F.col("added_seq") >= first_seq, F.col("added_seq"))).alias("lo"),
            F.max("added_seq").alias("hi"),
        )
        .first()
    )
    want_new = next_seq - first_seq
    ok = r.n == r.nd and r.n_new == want_new and (
        want_new == 0 or (r.lo == first_seq and r.hi == next_seq - 1)
    )
    return ok, (
        f"{r.n} seqs, {r.nd} distinct; {r.n_new} new in [{r.lo}, {r.hi}], "
        f"want {want_new} in [{first_seq}, {next_seq - 1}]"
    )


def fetches_per_host(fmt, k: int):
    """No host is fetched more than k times in one round."""
    worst = (
        fmt.read("fetch_log").groupBy("round_id", "host").count()
        .agg(F.max("count")).first()[0]
    )
    return worst is not None and worst <= k, f"max {worst} fetches per host-round, k={k}"


def fetched_left_frontier(fmt):
    """No fetched URL is still waiting in the frontier."""
    stale = (
        fmt.read("fetch_log").select("url_hash")
        .join(fmt.read("frontier").select("url_hash"), "url_hash", "left_semi").count()
    )
    return stale == 0, f"{stale} fetched url_hash still in frontier"


def oracle_parity(spark, fmt, inputs: dict, n_hosts: int, k: int, maxdepth: int,
                  rounds: int):
    """Crawl order and seen set equal the sequential reference oracle's
    on the same seeds, robots, k and maxdepth."""
    seeds = spark.read.parquet(inputs["seeds"])
    robots = spark.read.parquet(inputs["robots"])
    oracle = CrawlOracle(
        {
            r.host: {"crawl_delay": r.crawl_delay, "max_parallel": r.max_parallel,
                     "disallow": list(r.disallow)}
            for r in robots.collect()
        },
        n_hosts=n_hosts, k_per_host=k, maxdepth=maxdepth,
    )
    oracle.bootstrap([(r.url, r.priority, r.enqueue_seq) for r in seeds.collect()])
    oracle.run(rounds)
    got = [(r.round_id, r.url, r.fetch_at) for r in rj.crawl_order(fmt).collect()]
    want = [(e["round"], e["url"], e["fetch_at"]) for e in oracle.fetch_log]
    if got != want:
        first = next(
            (i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want))
        )
        return False, f"crawl order differs at fetch {first} ({len(got)} vs {len(want)})"
    # the seen table keeps 64-bit hashes only: hash the oracle's URLs the
    # same way and compare the two sets in one job
    want = spark.createDataFrame(pd.DataFrame({"url": sorted(oracle.seen)})).select(
        F.xxhash64("url").alias("url_hash"), F.lit(1).alias("o"))
    have = fmt.read("seen").select("url_hash", F.lit(1).alias("s"))
    r = have.join(want, "url_hash", "full_outer").agg(
        F.count("s").alias("n_s"), F.count("o").alias("n_o"),
        F.count(F.when(F.col("s").isNull() | F.col("o").isNull(), 1)).alias("diff"),
    ).first()
    return r.diff == 0 and r.n_s == r.n_o == len(oracle.seen), (
        f"{len(got)} fetches match; seen {r.n_s} vs oracle {r.n_o}, {r.diff} differ"
    )
