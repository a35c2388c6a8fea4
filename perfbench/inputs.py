"""Seeded input generators for the crawl-loop benchmark.

Every input is a pure function of (workload seed, size) built with the
package's own generators (`synthetic.gen_seeds`, `synthetic.gen_robots`)
and written to parquet / JSON text during set-up, so the program under
test only ever reads generated files.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic


def write_crawl_inputs(spark, out: str, seed: int, n_seeds: int, n_hosts: int) -> dict:
    """Seed list + robots table for a crawl. Seeds use the page-graph URL
    form (messy_frac=0): run_round cannot fetch other URL forms yet (see
    perfbench/README.md, "Known defect")."""
    synthetic.gen_seeds(spark, n_seeds, n_hosts=n_hosts, seed=seed).write.parquet(
        f"{out}/seeds"
    )
    synthetic.gen_robots(spark, n_hosts, seed=seed).write.parquet(f"{out}/robots")
    return {"seeds": f"{out}/seeds", "robots": f"{out}/robots"}


def write_ingest_inputs(
    spark,
    out: str,
    seed: int,
    n_seeds: int,
    n_hosts: int,
    batch_rows: int,
    n_batches: int,
    messy_frac: float,
    dup_frac: float,
) -> dict:
    """Seed list for the bootstrap plus `n_batches` micro-batches of JSON
    crawl requests, one text directory per batch, all written by one job.
    Half of batch b (batch_rows even) re-offers h = batch_rows/2 seed rows,
    b*h .. on, wrapping around the seed list, with their raw URLs,
    canonical or not exactly as the seeds arrived, so every one of them is
    already seen. The other half are fresh URLs, page ids n_seeds + b*h + j,
    unique across batches and never a seed page; messy_frac of them arrive
    non-canonical (uppercase scheme/host, default port, fragment), which
    canonicalizes to the plain form. So exactly half of every batch is new:
    ingest_fresh_rows() is the known answer the output check compares
    with."""
    half = batch_rows // 2
    if 2 * half != batch_rows or half > n_seeds:
        raise ValueError("need an even batch_rows and batch_rows / 2 <= n_seeds")
    synthetic.gen_seeds(
        spark, n_seeds, n_hosts=n_hosts, seed=seed,
        dup_frac=dup_frac, messy_frac=messy_frac,
    ).write.parquet(f"{out}/seeds")
    synthetic.gen_robots(spark, n_hosts, seed=seed).write.parquet(f"{out}/robots")
    seeds = spark.read.parquet(f"{out}/seeds")

    def request(url, key):
        return F.to_json(F.struct(
            url.alias("url"),
            F.lit("app-1").alias("appid"),
            F.lit("crawl-1").alias("crawlid"),
            (1 + F.pmod(F.xxhash64(key, F.lit(seed + 104)), F.lit(100))).cast("int")
            .alias("priority"),
            F.lit(3).alias("maxdepth"),
        )).alias("value")

    page = F.lit(n_seeds) + F.col("id")
    host = synthetic.zipf_host(page, n_hosts, seed + 102).cast("string")
    fresh = F.when(
        synthetic._u01(F.col("id"), seed + 103) < messy_frac,
        F.concat(F.lit("HTTP://Host-"), host, F.lit(".Example:80/p/"),
                 page.cast("string"), F.lit("#frag")),
    ).otherwise(
        F.concat(F.lit("http://host-"), host, F.lit(".example/p/"), page.cast("string"))
    )
    seen_part = seeds.crossJoin(spark.range(n_batches).withColumnRenamed("id", "b")).filter(
        F.pmod(F.col("enqueue_seq") - F.col("b") * half, F.lit(n_seeds)) < half
    ).select(request(F.col("url"), F.col("enqueue_seq")), "b")
    fresh_part = spark.range(n_batches * half).select(
        request(fresh, page), (F.col("id") / half).cast("long").alias("b"))
    # every batch in one write: one text directory per batch, b=<batch>
    seen_part.unionByName(fresh_part).coalesce(2).write.partitionBy("b").text(
        f"{out}/requests")
    batches = [f"{out}/requests/b={b}" for b in range(n_batches)]
    return {"seeds": f"{out}/seeds", "robots": f"{out}/robots", "batches": batches}


def ingest_fresh_rows(batch_rows: int) -> int:
    """Known number of new frontier rows per micro-batch (see above)."""
    return batch_rows // 2
