"""TableFormat seam: atomic snapshot-committed tables.

north_rule asks for Iceberg tables; the sandbox has no Iceberg runtime
jar (no network), so there are two implementations behind one seam
(SURVEY.md §7):

- `SnapshotParquetFormat` (always available): every commit writes new
  parquet dirs for the changed tables plus ONE manifest json, then
  atomically renames it to advance `CURRENT`. Readers only ever see a
  committed manifest → snapshot isolation, exact resume (ST5), and
  time-travel by snapshot id. This is functionally the slice of Iceberg
  the engine needs (atomic multi-table commit + snapshot lineage); the
  layout mirrors Iceberg's metadata-pointer design.

- `IcebergFormat`: used when `spark.sql.catalog.*` + the runtime jar
  are present (real cluster). Same API; appends/overwrites go through
  `writeTo`, commits are Iceberg snapshots.

Reference parallel: SCHEDULER_PERSIST resume ("Resuming crawl (N
requests scheduled)", /root/reference/crawler/schedulers/redis/
scheduler.py:57-70) and the redis-monitor's triple-pass purge
(/root/reference/monitors/redis/redis-monitor.py:348-362) both become
single atomic snapshot swaps.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


class SnapshotParquetFormat:
    """Multi-table store with atomic manifest-swap commits.

    Layout:
      root/data/<table>/<snapshot>-<uuid>/part-*.parquet
      root/manifests/<snapshot_id>.json   (tables → data dir, meta)
      root/CURRENT                        (the committed snapshot id)
    """

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- snapshot plumbing --------------------------------------------------
    def current_snapshot_id(self) -> int | None:
        cur = os.path.join(self.root, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def _manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.root, "manifests", f"{snapshot_id}.json")) as f:
            return json.load(f)

    def current_manifest(self) -> dict | None:
        sid = self.current_snapshot_id()
        return self._manifest(sid) if sid is not None else None

    def meta(self) -> dict:
        m = self.current_manifest()
        return (m or {}).get("meta", {})

    # -- read ---------------------------------------------------------------
    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame | None:
        m = (
            self._manifest(snapshot_id)
            if snapshot_id is not None
            else self.current_manifest()
        )
        if not m or table not in m["tables"]:
            return None
        entry = m["tables"][table]
        if isinstance(entry, dict):  # bucketed layout: bucket_id → dir
            paths = sorted(set(entry["buckets"].values()))
        elif isinstance(entry, str):  # pre-delta manifests
            paths = [entry]
        else:
            paths = entry
        return self.spark.read.parquet(*paths)

    # -- write --------------------------------------------------------------
    def commit(
        self,
        updates: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
        appends: dict[str, DataFrame] | None = None,
    ) -> int:
        """Advance CURRENT atomically. `updates` replace a table's full
        contents (one fresh data dir); `appends` add a delta data dir to
        the table's existing file list — O(delta) work per round, the
        Iceberg append shape (a 10^10-row seen table must never be
        rewritten per round). Unchanged tables carry over.

        Every table name is checked before any write starts. The
        commit's writes are independent, so they run at once, one thread
        per table; each thread inherits the caller's job group, local
        properties and tags. CURRENT advances only after every write
        succeeded: a failed write is re-raised once the others finished,
        and nothing is published."""
        parent = self.current_manifest() or {"tables": {}, "snapshot_id": -1}
        sid = parent["snapshot_id"] + 1
        # Carry bucketed entries (dicts) through unchanged — wrapping one in a
        # list corrupts the manifest and breaks read()/expire_snapshots.
        tables: dict[str, list | dict] = {
            k: (v if isinstance(v, (list, dict)) else [v])
            for k, v in parent["tables"].items()
        }
        writes = [(n, df, False) for n, df in (updates or {}).items()]
        writes += [(n, df, True) for n, df in (appends or {}).items()]
        for name, _, _ in writes:
            if isinstance(tables.get(name), dict):
                raise ValueError(
                    f"table {name!r} has a bucketed layout; route writes through "
                    "merge_upsert_bucketed (or compact) instead of commit/append"
                )

        def _write(name: str, df: DataFrame) -> str:
            path = os.path.join(self.root, "data", name, f"{sid}-{uuid.uuid4().hex[:8]}")
            df.write.mode("overwrite").parquet(path)
            return path

        with ThreadPoolExecutor(max_workers=max(1, len(writes))) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(_write), name, df)
                for name, df, _ in writes
            ]
        for (name, _, append), fut in zip(writes, futures):
            path = fut.result()
            tables[name] = (tables.get(name, []) if append else []) + [path]
        return self._publish(parent["snapshot_id"], tables, meta)

    def _publish(self, parent_sid: int, tables: dict, meta: dict | None) -> int:
        """Write the next snapshot's manifest, then atomically point
        CURRENT at it. Every commit path ends here."""
        sid = parent_sid + 1
        manifest = {
            "snapshot_id": sid,
            "parent": parent_sid,
            "tables": tables,
            "meta": meta or {},
        }
        with open(os.path.join(self.root, "manifests", f"{sid}.json"), "w") as f:
            json.dump(manifest, f)
        tmp = os.path.join(self.root, f".CURRENT.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, os.path.join(self.root, "CURRENT"))  # the atomic commit
        return sid

    def append(self, table: str, df: DataFrame, meta: dict | None = None) -> int:
        return self.commit(appends={table: df}, meta=meta)

    def compact(self, table: str) -> int:
        """Fold a table's delta list back into one data dir (maintenance,
        run off the critical path — Iceberg rewrite_data_files). Bucketed
        tables are rewritten bucket-preserving."""
        m = self.current_manifest()
        if not m or table not in m["tables"]:
            return self.current_snapshot_id() or 0
        entry = m["tables"][table]
        if isinstance(entry, dict):  # preserve the bucketed layout
            cur = self.read(table)
            return self._write_bucketed(
                table, cur, entry["key"], entry["num_buckets"], dict(self.meta())
            )
        return self.commit({table: self.read(table)}, meta=dict(self.meta()))

    def merge_upsert(self, table: str, df: DataFrame, key: str) -> int:
        """MERGE INTO emulation (SURVEY.md §7: anti-join + union + swap):
        new rows win on key collision — the upsert-by-id semantics of the
        ES/Mongo/MySQL sinks (es.py:23-34, mongodb.py:86-90).

        NOTE: this generic path rewrites the whole table per merge —
        fine for small sink tables; for big keyed tables use
        merge_upsert_bucketed (O(affected buckets) rewrite)."""
        cur = self.read(table)
        if cur is None:
            return self.commit({table: df})
        survivors = cur.join(df.select(key), key, "left_anti")
        return self.commit({table: survivors.unionByName(df.select(cur.columns))})

    # -- bucketed merge: O(delta buckets) rewrite ----------------------------
    @staticmethod
    def _bucket_col(key: str, num_buckets: int):
        from pyspark.sql import functions as F  # noqa: PLC0415

        return F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("int")

    def _write_bucketed(
        self, table: str, df: DataFrame, key: str, num_buckets: int,
        meta: dict | None, reuse: dict[str, str] | None = None,
    ) -> int:
        """Write df hash-partitioned by key into per-bucket subdirs and
        commit a bucketed manifest entry. `reuse` carries forward the
        untouched buckets' existing dirs (the partition-scoped merge)."""
        parent = self.current_manifest() or {"tables": {}, "snapshot_id": -1}
        sid = parent["snapshot_id"] + 1
        path = os.path.join(self.root, "data", table, f"{sid}-{uuid.uuid4().hex[:8]}")
        out = df.withColumn("_bucket", self._bucket_col(key, num_buckets))
        out.write.mode("overwrite").partitionBy("_bucket").parquet(path)
        buckets = dict(reuse or {})
        for d in os.scandir(path):
            if d.is_dir() and d.name.startswith("_bucket="):
                buckets[d.name.split("=", 1)[1]] = d.path
        tables = {k: v for k, v in parent["tables"].items()}
        tables[table] = {"key": key, "num_buckets": num_buckets, "buckets": buckets}
        return self._publish(parent["snapshot_id"], tables, meta)

    def merge_upsert_bucketed(
        self, table: str, df: DataFrame, key: str, num_buckets: int = 64
    ) -> int:
        """Partition-scoped MERGE: the table lives in num_buckets
        hash-bucket dirs (bucket = pmod(xxhash64(key), B) — the parquet
        twin of Iceberg `bucket(B, key)`); a merge rewrites ONLY the
        buckets containing incoming keys and carries every other bucket
        dir forward untouched. Write volume is O(delta buckets), never
        O(table) — at a 10^10-row documents table a 1M-row upsert
        touches ~B·(1-e^(-1M/B)) buckets instead of the whole table."""
        m = self.current_manifest()
        entry = (m or {"tables": {}})["tables"].get(table)
        if entry is None:
            return self._write_bucketed(table, df, key, num_buckets, dict(self.meta()))
        if not isinstance(entry, dict):
            raise ValueError(
                f"table {table!r} exists with a non-bucketed layout; "
                "use merge_upsert or compact it into a bucketed table first"
            )
        key, num_buckets = entry["key"], entry["num_buckets"]
        affected = sorted(
            r["_b"]
            for r in df.select(
                self._bucket_col(key, num_buckets).alias("_b")
            ).distinct().collect()
        )
        touched_paths = [
            entry["buckets"][str(b)] for b in affected if str(b) in entry["buckets"]
        ]
        if touched_paths:
            cur = self.spark.read.parquet(*touched_paths)
            survivors = cur.join(df.select(key), key, "left_anti")
            merged = survivors.unionByName(df.select(cur.columns))
        else:
            merged = df
        reuse = {
            b: p for b, p in entry["buckets"].items() if int(b) not in set(affected)
        }
        return self._write_bucketed(
            table, merged, key, num_buckets, dict(self.meta()), reuse=reuse
        )

    def append_bucketed(
        self, table: str, df: DataFrame, key: str | None = None,
        num_buckets: int = 64,
    ) -> int:
        """Append rows INTO the bucketed layout without key-collision
        deletes — the primitive for append-only bucket-clustered state
        like the MinHash LSH band index (bucketed by band_key =
        hash(band, band_sig)): near-dup docs share a band_key by
        construction, so merge_upsert_bucketed's new-row-wins anti-join
        would silently drop the existing posting rows. Here incoming
        rows are unioned into their hash buckets; only the affected
        bucket dirs are rewritten (O(delta buckets)), every other
        bucket carries forward untouched — the Iceberg
        bucket(B, key)-table append shape."""
        m = self.current_manifest()
        entry = (m or {"tables": {}})["tables"].get(table)
        if entry is None:
            if key is None:
                raise ValueError("first append_bucketed needs an explicit key")
            return self._write_bucketed(table, df, key, num_buckets, dict(self.meta()))
        if not isinstance(entry, dict):
            raise ValueError(
                f"table {table!r} exists with a non-bucketed layout; "
                "compact it into a bucketed table first"
            )
        key, num_buckets = entry["key"], entry["num_buckets"]
        affected = sorted(
            r["_b"]
            for r in df.select(
                self._bucket_col(key, num_buckets).alias("_b")
            ).distinct().collect()
        )
        touched_paths = [
            entry["buckets"][str(b)] for b in affected if str(b) in entry["buckets"]
        ]
        if touched_paths:
            cur = self.spark.read.parquet(*touched_paths)
            merged = cur.unionByName(df.select(cur.columns))
        else:
            merged = df
        reuse = {
            b: p for b, p in entry["buckets"].items() if int(b) not in set(affected)
        }
        return self._write_bucketed(
            table, merged, key, num_buckets, dict(self.meta()), reuse=reuse
        )

    def expire_snapshots(self, keep_last: int = 8) -> dict:
        """Iceberg expire_snapshots twin: drop manifests older than the
        last `keep_last` snapshots and delete data dirs no kept snapshot
        references. Time travel keeps working within the retention
        window; storage stops growing O(history) — at one commit per
        scheduling round a 10^10-URL crawl would otherwise retain every
        frontier version ever written. Run off the critical path."""
        cur = self.current_snapshot_id()
        if cur is None:
            return {"removed_manifests": 0, "removed_dirs": 0}
        mdir = os.path.join(self.root, "manifests")
        all_sids = sorted(
            int(f.split(".")[0]) for f in os.listdir(mdir) if f.endswith(".json")
        )
        keep = set(all_sids[-keep_last:]) | {cur}
        referenced: set[str] = set()
        for sid in keep:
            m = self._manifest(sid)
            for entry in m["tables"].values():
                if isinstance(entry, dict):
                    referenced.update(entry["buckets"].values())
                elif isinstance(entry, str):
                    referenced.add(entry)
                else:
                    referenced.update(entry)
        # a bucket dir is a subdir of its write dir — keep the parent
        referenced_roots = {p.split("/_bucket=")[0] for p in referenced}
        removed_dirs = 0
        data_root = os.path.join(self.root, "data")
        for table in os.listdir(data_root):
            tdir = os.path.join(data_root, table)
            for d in os.listdir(tdir):
                full = os.path.join(tdir, d)
                if full not in referenced_roots:
                    shutil.rmtree(full, ignore_errors=True)
                    removed_dirs += 1
        removed_manifests = 0
        for sid in all_sids:
            if sid not in keep:
                os.remove(os.path.join(mdir, f"{sid}.json"))
                removed_manifests += 1
        return {"removed_manifests": removed_manifests, "removed_dirs": removed_dirs}

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def make_table_format(root: str, spark: SparkSession):
    """Return IcebergFormat when a configured Iceberg catalog exists,
    else SnapshotParquetFormat (the sandbox path)."""
    try:  # Iceberg present only when the runtime jar + catalog conf exist
        if spark.conf.get("spark.sql.catalog.crawler", None):
            from .iceberg_format import IcebergFormat  # noqa: PLC0415

            return IcebergFormat(root, spark)
    except Exception:
        pass
    return SnapshotParquetFormat(root, spark)
