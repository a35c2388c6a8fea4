"""Multi-format source loaders + the bucketed (shuffle-free) seen join
— the 'faster join strategy' for the 10^10-row seen table: bucketing
both sides on url_hash removes the per-round Exchange entirely."""

from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.sources.loaders import (
    export_documents_jsonl,
    load_seeds,
)


def test_seed_loaders_roundtrip(spark, tmp_path):
    seeds = synthetic.gen_seeds(spark, 200, n_hosts=10)
    want = {(r.url, r.priority, r.enqueue_seq) for r in seeds.collect()}
    for fmt in ("parquet", "json", "csv", "orc"):
        p = str(tmp_path / f"seeds_{fmt}")
        getattr(
            seeds.write.mode("overwrite").option("header", "true"), fmt
        )(p)
        got = load_seeds(spark, p, fmt)
        assert got.schema["url"].dataType.typeName() == "string"
        assert {(r.url, r.priority, r.enqueue_seq) for r in got.collect()} == want


def test_documents_jsonl_export(spark, tmp_path):
    docs = spark.createDataFrame(
        [("d1", [("text", "x", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    p = str(tmp_path / "docs_json")
    export_documents_jsonl(docs, p)
    back = spark.read.json(p)
    assert back.count() == 1 and "spans" in back.columns


def test_table_format_seam_signature_parity():
    """IcebergFormat must expose the exact SnapshotParquetFormat surface
    run_crawl/run_round depend on (commit with appends=, compact, read
    with snapshot_id, merge_upsert, ...) — the cluster path must not
    TypeError at the round-16 compaction (ADVICE round 1)."""
    import inspect

    from openslack_crawler_spark.sources.iceberg_format import IcebergFormat
    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    for name in (
        "commit", "append", "compact", "merge_upsert",
        "merge_upsert_bucketed", "expire_snapshots", "read", "meta",
        "current_snapshot_id", "current_manifest", "destroy",
    ):
        twin = getattr(SnapshotParquetFormat, name)
        ice = getattr(IcebergFormat, name)
        assert inspect.signature(twin) == inspect.signature(ice), name


def test_bucketed_merge_rewrites_only_affected_buckets(spark, tmp_path):
    """Partition-scoped MERGE (round-1 verdict #6): write volume must be
    O(delta buckets), not O(table) — measured by rows in the new data
    dir vs table size."""
    import glob

    from pyspark.sql import functions as F

    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    B, N = 64, 50000
    base = spark.range(N).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    fmt.merge_upsert_bucketed("docs", base, "k", num_buckets=B)

    # upsert 40 keys (20 updates + 20 inserts) → few buckets touched
    delta = spark.range(N - 20, N + 20).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    affected = {
        r["_b"]
        for r in delta.select(
            F.pmod(F.xxhash64("k"), F.lit(B)).cast("int").alias("_b")
        ).distinct().collect()
    }
    sid = fmt.merge_upsert_bucketed("docs", delta, "k")

    # semantics: new rows win on key collision, everything else intact
    out = fmt.read("docs")
    assert out.count() == N + 20
    assert out.filter(F.col("v") == -1).count() == 40
    assert out.filter((F.col("k") == 0) & (F.col("v") == 0)).count() == 1

    # write volume: the new dir holds only the affected buckets' rows
    new_dirs = glob.glob(str(tmp_path / "store" / "data" / "docs" / f"{sid}-*"))
    assert len(new_dirs) == 1
    rewritten = spark.read.parquet(new_dirs[0]).count()
    expected_bucket_rows = out.withColumn(
        "_b", F.pmod(F.xxhash64("k"), F.lit(B)).cast("int")
    ).filter(F.col("_b").isin(list(affected))).count()
    assert rewritten == expected_bucket_rows
    assert rewritten < N * 0.8  # strictly less than a full-table rewrite
    # untouched buckets' dirs are carried forward from the first write
    entry = fmt.current_manifest()["tables"]["docs"]
    carried = [p for b, p in entry["buckets"].items() if int(b) not in affected]
    assert carried and all(f"{sid}-" not in p for p in carried)

    # time travel still sees the pre-merge table
    assert fmt.read("docs", snapshot_id=sid - 1).count() == N


def test_expire_snapshots_bounds_storage(spark, tmp_path):
    """Snapshot expiry (Iceberg expire_snapshots twin): old manifests
    and unreferenced data dirs go away; the current state and time
    travel within the retention window survive — including append
    deltas that were WRITTEN by expired snapshots but are still
    referenced by kept ones."""
    import os

    from pyspark.sql import functions as F

    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    fmt = SnapshotParquetFormat(str(tmp_path / "s"), spark)
    base = spark.range(100).select(F.col("id").alias("k"))
    fmt.commit({"t": base})                       # sid 0
    for i in range(5):                            # sids 1-5: append deltas
        fmt.append("log", spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k")))
    fmt.commit({"t": base.filter("k < 50")})      # sid 6

    report = fmt.expire_snapshots(keep_last=2)    # keep sids 5, 6
    assert report["removed_manifests"] == 5
    # sid-5's manifest still references sid-0's t dir → it must SURVIVE
    assert report["removed_dirs"] == 0

    # current state intact — including log deltas written by EXPIRED
    # snapshots (they're still referenced by kept manifests)
    assert fmt.read("t").count() == 50
    assert fmt.read("log").count() == 50
    # time travel inside the window works (sid 5 reads the OLD t)
    assert fmt.read("t", snapshot_id=5).count() == 100
    assert fmt.read("log", snapshot_id=5).count() == 50
    assert fmt.current_snapshot_id() == 6
    manifests = os.listdir(tmp_path / "s" / "manifests")
    assert sorted(manifests) == ["5.json", "6.json"]

    # tighten to keep_last=1: sid-0's t dir loses its last reference
    report2 = fmt.expire_snapshots(keep_last=1)
    assert report2["removed_manifests"] == 1
    assert report2["removed_dirs"] == 1           # the old full t dir
    assert fmt.read("t").count() == 50
    assert fmt.read("log").count() == 50          # deltas all still referenced


def test_bucketed_merge_into_absent_bucket(spark, tmp_path):
    """Incoming keys whose hash bucket has no dir yet must insert
    cleanly (no survivors read for those buckets) and appear on read."""
    from pyspark.sql import functions as F

    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    fmt = SnapshotParquetFormat(str(tmp_path / "s"), spark)
    base = spark.createDataFrame([(1, 10)], "k long, v long")
    fmt.merge_upsert_bucketed("t", base, "k", num_buckets=64)
    n_buckets_before = len(fmt.current_manifest()["tables"]["t"]["buckets"])
    assert n_buckets_before == 1
    delta = spark.range(2, 40).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    fmt.merge_upsert_bucketed("t", delta, "k")
    out = fmt.read("t")
    assert out.count() == 39
    assert out.filter("k = 1 and v = 10").count() == 1
    # compact preserves the bucketed layout and contents
    fmt.compact("t")
    entry = fmt.current_manifest()["tables"]["t"]
    assert isinstance(entry, dict) and entry["num_buckets"] == 64
    assert fmt.read("t").count() == 39


def test_bucketed_seen_join_is_shuffle_free(spark, tmp_path):
    """bucketBy(url_hash) on both sides → the anti-join plan has NO
    Exchange (storage-partitioned join; Iceberg bucket(N, url_hash)
    gives the same on a cluster)."""
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    seen = spark.range(100000).select(F.xxhash64("id").alias("url_hash"))
    cands = spark.range(50000, 150000).select(F.xxhash64("id").alias("url_hash"))
    spark.sql("DROP TABLE IF EXISTS seen_b")
    spark.sql("DROP TABLE IF EXISTS cands_b")
    # a previous session's warehouse dirs survive the in-memory catalog;
    # saveAsTable refuses existing locations it didn't create
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("seen_b", "cands_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    seen.write.bucketBy(8, "url_hash").sortBy("url_hash").mode("overwrite").saveAsTable("seen_b")
    cands.write.bucketBy(8, "url_hash").sortBy("url_hash").mode("overwrite").saveAsTable("cands_b")
    j = spark.table("cands_b").join(spark.table("seen_b"), "url_hash", "left_anti")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    # and it is still exactly correct
    expected = cands.join(seen, "url_hash", "left_anti").count()
    assert j.count() == expected
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_table_survives_plain_commits(spark, tmp_path):
    """Round-3 ADVICE (medium): a plain commit/append to OTHER tables must
    carry a bucketed table's manifest entry through unchanged — the crawl
    round loop commits every round, so bucketed tables must coexist with
    it. Direct commit/append to the bucketed table itself is an explicit
    error (route through merge_upsert_bucketed)."""
    import pytest

    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    docs = spark.range(1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    fmt.merge_upsert_bucketed("docs", docs, "k", num_buckets=8)

    # a plain commit to an unrelated table (what run_crawl does per round)
    counters = spark.range(3).select(F.col("id").alias("c"))
    fmt.commit({"counters": counters})
    fmt.append("counters", counters)

    # the bucketed entry survived: read() works, layout intact
    entry = fmt.current_manifest()["tables"]["docs"]
    assert isinstance(entry, dict) and entry["num_buckets"] == 8
    assert fmt.read("docs").count() == 1000
    # expire_snapshots no longer trips over the entry either
    fmt.expire_snapshots(keep_last=2)
    assert fmt.read("docs").count() == 1000

    # writing to the bucketed table through the plain path is refused
    with pytest.raises(ValueError, match="bucketed layout"):
        fmt.commit({"docs": docs})
    with pytest.raises(ValueError, match="bucketed layout"):
        fmt.append("docs", docs)
    # and a later bucketed merge still works
    delta = spark.range(1000, 1010).select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v"))
    fmt.merge_upsert_bucketed("docs", delta, "k")
    assert fmt.read("docs").count() == 1010


def test_failed_commit_publishes_nothing(spark, tmp_path):
    """A commit's table writes run at once; when one of them fails at
    execution the commit raises only after the others finished, CURRENT
    stays where it was, no write job outlives the call, and the manifest
    never references the good table's new data dir."""
    import glob

    import pytest

    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    good = spark.range(1000).select(F.col("id").alias("k"))
    sid = fmt.commit({"good": good})
    before = fmt.current_manifest()
    bad = spark.range(10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") >= 0, F.raise_error(F.lit("boom"))).cast("string").alias("x"),
    )
    with pytest.raises(Exception, match="boom"):
        fmt.commit({"good": good.filter("k < 500")}, appends={"bad": bad})
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert fmt.current_snapshot_id() == sid
    assert fmt.current_manifest() == before
    new_dirs = set(glob.glob(str(tmp_path / "store" / "data" / "good" / "*"))) - set(
        before["tables"]["good"]
    )
    manifests = "".join(
        open(m).read() for m in glob.glob(str(tmp_path / "store" / "manifests" / "*"))
    )
    assert not any(d in manifests for d in new_dirs)
    assert fmt.read("good").count() == 1000

    # a commit naming a bucketed table is refused before any write starts
    fmt.merge_upsert_bucketed("docs", good, "k", num_buckets=4)
    with pytest.raises(ValueError, match="bucketed layout"):
        fmt.commit({"fresh": good}, appends={"docs": good})
    assert not (tmp_path / "store" / "data" / "fresh").exists()


def test_commit_writes_stay_in_callers_job_group(spark, tmp_path):
    """commit runs each table write on its own thread; the caller's job
    group must carry over to those threads, or per-operation job counts
    (test_enqueue_job_budget, the benchmark's attribution) read 0."""
    import uuid

    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    sc = spark.sparkContext
    group = f"commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fmt.commit(
            {"a": spark.range(10), "b": spark.range(20)},
            appends={"c": spark.range(30)},
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3
    assert [fmt.read(t).count() for t in "abc"] == [10, 20, 30]


def test_message_sinks_plans_and_selection(spark, tmp_path):
    """S13/S17 dedicated sinks (round-3 verdict #6): wire-shape plans
    (routing_key '<spider>:items'; flume headers+body events) and the
    capability-gated selection policy, spooled in-sandbox."""
    import pytest

    from openslack_crawler_spark.sources import message_sinks as ms

    items = spark.createDataFrame(
        [("u1", "app", "c1", "hello"), ("u2", "app", "c2", "world")],
        "url string, appid string, crawlid string, text string",
    )

    # rabbitmq plan: reference's item_key is "%s:items" % spider.name
    rows = ms.rabbitmq_sink_plan(items, spider="wandering").collect()
    assert {r.routing_key for r in rows} == {"wandering:items"}
    assert all('"url":"u' in r.body for r in rows)

    # flume plan: headers carry routing metadata, body the full item
    ev = {r.headers["crawlid"]: r for r in ms.flume_sink_plan(items).collect()}
    assert set(ev) == {"c1", "c2"}
    assert ev["c1"].headers == {"appid": "app", "crawlid": "c1"}
    assert '"text":"hello"' in ev["c1"].body

    # selection policy: no client libs in-sandbox → spool twin
    assert not ms.rabbitmq_available() and not ms.flume_available()
    assert ms.choose_item_sink("rabbitmq", "amqp://x", str(tmp_path)) == "spool"
    assert ms.choose_item_sink("flume", None, str(tmp_path)) == "spool"
    with pytest.raises(RuntimeError, match="client lib"):
        ms.choose_item_sink("flume", "h:4141", None)
    with pytest.raises(ValueError):
        ms.choose_item_sink("celery", None, str(tmp_path))

    # spooled writes land the identical plan rows
    assert ms.write_rabbitmq(items, spool_dir=str(tmp_path / "rmq")) == "spool"
    assert ms.write_flume(items, spool_dir=str(tmp_path / "flume")) == "spool"
    assert spark.read.parquet(str(tmp_path / "rmq")).count() == 2
    got = spark.read.parquet(str(tmp_path / "flume")).select("headers", "body").count()
    assert got == 2


def test_band_index_append_bucketed_and_probe_spj(spark, tmp_path):
    """Round-3 verdict #6 — prove the incremental-dedup SPJ claim
    (queries_textdedup.q_minhash_incremental_pairs docstring): the
    MinHash band index persists bucketed by band_key = hash(band,
    band_sig), maintenance is an O(delta buckets) append (NOT an
    upsert: near-dups share band_key, a keyed upsert would drop their
    posting rows), and the new-batch probe join shuffles ONLY the
    probe side — the same storage-partitioned shape as the seen join."""
    from openslack_crawler_spark.queries_textdedup import (
        INCR_NEW_MOD,
        minhash_band_table,
        q_minhash_incremental_pairs,
        words_col,
    )
    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    sf_dir = "/root/testdata/sf0.001"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", words_col(F.col("text")).alias("w"))
    )
    bands = minhash_band_table(docs).withColumn(
        "band_key", F.xxhash64("band", "band_sig")
    ).localCheckpoint()
    is_new = F.pmod(F.col("doc_id"), F.lit(INCR_NEW_MOD)) == 0
    index_bands = bands.filter(~is_new)
    probe_bands = bands.filter(is_new)

    # --- maintenance: append-only bucketed writes, O(delta buckets) ---
    fmt = SnapshotParquetFormat(str(tmp_path / "bandidx"), spark)
    first = index_bands.filter(F.pmod("doc_id", F.lit(2)) == 1)
    delta = index_bands.filter(F.pmod("doc_id", F.lit(2)) == 0).limit(5)
    fmt.append_bucketed("band_index", first, "band_key", num_buckets=16)
    before = dict(fmt.current_manifest()["tables"]["band_index"]["buckets"])
    fmt.append_bucketed("band_index", delta)
    after = dict(fmt.current_manifest()["tables"]["band_index"]["buckets"])
    untouched = [b for b in before if before[b] == after[b]]
    assert untouched, "append must carry untouched bucket dirs forward"
    # nothing dropped: same band_key never evicts existing posting rows
    assert fmt.read("band_index").count() == first.count() + delta.count()

    # --- probe plan: index side storage-partitioned, probe side shuffles ---
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import shutil
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS band_index_b")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/band_index_b", ignore_errors=True)
    (
        index_bands.write.bucketBy(16, "band_key").sortBy("band_key")
        .mode("overwrite").saveAsTable("band_index_b")
    )
    idx = spark.table("band_index_b").select(
        F.col("doc_id").alias("indexed_doc"),
        F.col("band").alias("i_band"),
        F.col("band_sig").alias("i_band_sig"),
        "band_key",
    )
    # The join key is band_key ALONE — an equality filter on
    # (band, band_sig) would be folded into the join keys by Catalyst
    # and defeat the bucket match; instead the real-signature equality
    # is verified inside the aggregate (conditional count + HAVING),
    # which stays out of the join condition. band_key collisions are
    # therefore joined but counted as 0 and dropped — exact.
    probed = (
        probe_bands.select(
            F.col("doc_id").alias("new_doc"), "band", "band_sig", "band_key"
        )
        .join(idx, "band_key")
        .groupBy("new_doc", "indexed_doc")
        .agg(
            F.sum(
                F.when(
                    (F.col("band") == F.col("i_band"))
                    & (F.col("band_sig") == F.col("i_band_sig")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_bands_match")
        )
        .filter(F.col("n_bands_match") > 0)
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # exactly ONE pre-join Exchange (probe side, on band_key) — the
    # index side reads its buckets in place (Bucketed: true, no
    # Exchange below the join on that side)
    assert plan.count("Exchange hashpartitioning(band_key") == 1, plan[:1500]
    assert "Bucketed: true" in plan, plan[:1500]
    index_subtree = plan.split("SortMergeJoin")[-1].split("FileScan")[0]
    assert "Exchange" not in index_subtree.rsplit("Sort ", 1)[-1]
    # value-level: same pairs as the registered incremental query
    expected = sorted(
        tuple(r) for r in q_minhash_incremental_pairs(spark, sf_dir).collect()
    )
    got = sorted(tuple(r) for r in probed.collect())
    assert got == expected
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
