"""Streaming request ingest (ST1-ST4): json files → validated requests
→ atomic micro-batch enqueue; redelivery is idempotent."""

import json
import uuid

from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.functions.url import with_url_columns
from openslack_crawler_spark.plans import monitor, round_job as rj
from openslack_crawler_spark.schemas import FRONTIER_SCHEMA
from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat
from openslack_crawler_spark.streaming.ingest import (
    enqueue_batch,
    parse_requests,
    start_file_ingest,
)


def _write_requests(d, rows, name):
    with open(d / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_file_ingest_enqueues_and_dedups(spark, tmp_path):
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    reqs = [
        {"url": "http://a.example/1", "appid": "app", "priority": 9},
        {"url": "http://a.example/2", "appid": "app"},
        {"url": "http://A.EXAMPLE/1", "appid": "app"},  # dupe after canonicalize
        {"appid": "no-url-invalid"},
    ]
    _write_requests(incoming, reqs, "batch1.json")
    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    q = start_file_ingest(spark, fmt, str(incoming))
    q.awaitTermination(120)

    frontier = fmt.read("frontier")
    rows = {r.url: r for r in frontier.collect()}
    assert set(rows) == {"http://a.example/1", "http://a.example/2"}
    assert rows["http://a.example/1"].priority == 9
    assert rows["http://a.example/2"].priority == 1  # schema default injected

    # redelivery: the same requests arrive again → all dropped as seen
    _write_requests(incoming, reqs[:3], "batch2.json")
    q2 = start_file_ingest(spark, fmt, str(incoming))
    q2.awaitTermination(120)
    assert fmt.read("frontier").count() == 2


def test_kafka_source_selection_logic(spark, tmp_path, monkeypatch):
    """S2/S19 capability gating: kafka plan when the connector class is
    loadable, file twin otherwise; explicit error when kafka was asked
    for with no fallback."""
    import pytest

    from openslack_crawler_spark.streaming import ingest as ing

    # sandbox has no kafka jar
    assert ing.kafka_available(spark) is False
    assert (
        ing.choose_request_source(spark, "broker:9092", str(tmp_path)) == "file"
    )
    assert ing.choose_request_source(spark, None, str(tmp_path)) == "file"
    with pytest.raises(RuntimeError):
        ing.choose_request_source(spark, "broker:9092", None)
    with pytest.raises(ValueError):
        ing.choose_request_source(spark, None, None)
    # with the connector present the kafka plan is chosen
    monkeypatch.setattr(ing, "kafka_available", lambda s: True)
    assert ing.choose_request_source(spark, "broker:9092", str(tmp_path)) == "kafka"
    # and the file twin builds a real streaming plan with a value column
    df, chosen = ing.build_request_source(
        spark, incoming_dir=str(tmp_path), streaming=True
    )
    assert chosen == "file" and df.columns == ["value"] and df.isStreaming


def test_ingest_seq_dense_and_unique_across_batches(spark, tmp_path):
    """enqueue_seq must stay dense and unique even when a batch loses
    rows to dedup/seen-filter: seqs are assigned AFTER filtering, so
    next_seq never hands out a value a kept row already holds (round-1
    ADVICE: pre-filter assignment let later batches reuse seqs)."""
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    # batch 1: 3 candidates, 1 intra-batch dupe → 2 kept
    _write_requests(
        incoming,
        [
            {"url": "http://h0.example/1", "appid": "app"},
            {"url": "http://h0.example/2", "appid": "app"},
            {"url": "http://H0.EXAMPLE/2", "appid": "app"},  # dupe
        ],
        "b1.json",
    )
    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    q = start_file_ingest(spark, fmt, str(incoming))
    q.awaitTermination(120)
    assert fmt.meta()["next_seq"] == 2

    # batch 2: 1 seen + 2 new → seqs must continue 2,3 with no overlap
    _write_requests(
        incoming,
        [
            {"url": "http://h0.example/1", "appid": "app"},  # seen
            {"url": "http://h1.example/1", "appid": "app"},
            {"url": "http://h1.example/2", "appid": "app"},
        ],
        "b2.json",
    )
    q2 = start_file_ingest(spark, fmt, str(incoming))
    q2.awaitTermination(120)
    seqs = sorted(r.enqueue_seq for r in fmt.read("frontier").collect())
    assert seqs == [0, 1, 2, 3]  # dense, monotone, no duplicates
    assert fmt.meta()["next_seq"] == 4
    # seen rows carry the enqueue_seq they entered with (added_seq)
    added = {r.added_seq for r in fmt.read("seen").collect()}
    assert added == {0, 1, 2, 3}
    # each micro-batch appended one frontier delta dir holding only its
    # own new rows, every one written in the frontier's exact types (no
    # unionByName on read to absorb drift between dirs)
    paths = fmt.current_manifest()["tables"]["frontier"]
    assert len(paths) == 2
    assert sorted(r.url for r in spark.read.parquet(paths[1]).collect()) == [
        "http://h1.example/1", "http://h1.example/2",
    ]
    for p in paths:
        assert spark.read.parquet(p).schema.simpleString() == FRONTIER_SCHEMA.simpleString()


def test_round_folds_ingest_frontier_deltas(spark, tmp_path):
    """Micro-batches append frontier delta dirs; the next crawl round
    reads their union, fetches from it, and replaces the frontier with
    one dir again."""
    seeds = synthetic.gen_seeds(spark, 40, n_hosts=5)
    robots = synthetic.gen_robots(spark, 5)
    cfg = rj.CrawlConfig(n_hosts=5, k_per_host=4, maxdepth=1)
    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    rj.bootstrap(fmt, seeds, robots, cfg)
    n_seeds = fmt.read("frontier").count()
    urls = [f"http://host-{h}.example/p/{1000 + h}" for h in range(1, 6)]
    enqueue_batch(fmt, _requests(spark, [
        {"url": u, "appid": "app", "crawlid": "c", "priority": 100} for u in urls
    ]), 1)
    assert len(fmt.current_manifest()["tables"]["frontier"]) == 2
    n_pending = fmt.read("frontier").count()
    assert n_pending == n_seeds + len(urls)

    stats = rj.run_round(fmt, cfg)
    assert len(fmt.current_manifest()["tables"]["frontier"]) == 1
    fetched = {r.url for r in fmt.read("fetch_log").collect()}
    assert stats["fetched"] == len(fetched) > 0
    assert set(urls) <= fetched  # top priority: popped first on every host
    frontier = fmt.read("frontier")
    assert frontier.count() == n_pending - stats["fetched"] + stats["enqueued"]
    assert frontier.filter(F.col("url").isin(*fetched)).count() == 0


def _requests(spark, rows):
    return parse_requests(
        spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    )


def test_ingest_applies_blacklist_and_expiry(spark, tmp_path):
    """Streamed requests go through the same enqueue filters as crawl
    candidates (scheduler.py:87-103): a request for a stopped crawl, or
    one whose `expires` has passed, never reaches the frontier, but its
    fingerprint enters the seen set with a NULL added_seq."""
    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    enqueue_batch(
        fmt, _requests(spark, [
            {"url": "http://h0.example/1", "appid": "app", "crawlid": "stopped"},
        ]), 0,
    )
    monitor.stop_crawl(fmt, "app", "stopped")
    stopped = {"url": "http://h0.example/2", "appid": "app", "crawlid": "stopped"}
    expired = {"url": "http://h0.example/3", "appid": "app", "crawlid": "live",
               "expires": 946684800}  # 2000-01-01
    kept = {"url": "http://h0.example/4", "appid": "app", "crawlid": "live"}
    enqueue_batch(fmt, _requests(spark, [stopped, expired, kept]), 1)

    assert [r.url for r in fmt.read("frontier").collect()] == [kept["url"]]
    assert fmt.meta()["next_seq"] == 2
    hashes = {
        r.url: r.url_hash
        for r in with_url_columns(
            spark.createDataFrame([(stopped["url"],), (expired["url"],)], "url string")
        ).collect()
    }
    seen = {r.url_hash: r.added_seq for r in fmt.read("seen").collect()}
    assert {h: seen.get(h, "missing") for h in hashes.values()} == {
        h: None for h in hashes.values()
    }


def _jobs(spark, fn) -> int:
    """Spark jobs that fn() runs (its own job group)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_enqueue_job_budget(spark, tmp_path):
    """The crawl round and the streaming micro-batch share one enqueue
    path whose dense enqueue_seq is the only rank pass: one sort, cut
    once, plus one per-partition count, read back as a narrow
    projection. With a second, tiebreak-only rank pass before
    first-wins dedup this round ran 45 Spark jobs and this micro-batch
    27; with a window + broadcast-join dense seq that enqueue cut again
    and counted it ran 36 and 19, and 29 and 12 while the micro-batch
    still read the frontier to rewrite it. The micro-batch now appends
    a frontier delta. Commit writes run on their own threads, so these
    counts also hold that they stay in the caller's job group."""
    seeds = synthetic.gen_seeds(spark, 200, n_hosts=15)
    robots = synthetic.gen_robots(spark, 15)
    cfg = rj.CrawlConfig(n_hosts=15, k_per_host=4, maxdepth=2)
    crawl = SnapshotParquetFormat(str(tmp_path / "crawl"), spark)
    rj.bootstrap(crawl, seeds, robots, cfg)
    round_jobs = _jobs(spark, lambda: rj.run_round(crawl, cfg))

    store = SnapshotParquetFormat(str(tmp_path / "ingest"), spark)
    rj.bootstrap(store, seeds, robots, cfg)
    reqs = _requests(spark, [
        {"url": f"http://h{i % 5}.example/{i}", "appid": "app-1", "crawlid": "crawl-1"}
        for i in range(50)
    ])
    batch_jobs = _jobs(spark, lambda: enqueue_batch(store, reqs, 1))
    assert round_jobs <= 29, round_jobs
    assert batch_jobs <= 11, batch_jobs
