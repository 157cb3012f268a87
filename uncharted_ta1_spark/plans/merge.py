"""Idempotent keyed upsert — the sandbox stand-in for Iceberg MERGE INTO.

Reference analog (SURVEY.md §2.10 ST6): every task memoizes by content/config
hash so replays are cheap and reprocessing never duplicates output
(``tasks/common/task.py:188-212``; keyed blob cache ``image_cache.py:17-69``).

Semantics: rows in `updates` replace target rows with the same key
(last-write-wins by key, like the reference's dict-override merge), other
target rows survive, new keys insert.  Re-applying the same updates is a
no-op on content — the idempotence that makes streaming replays and backfill
retries safe.

Scale design (O(delta), not O(table)): the table is hash-bucketed on the key
columns.  A merge rewrites ONLY the buckets its updates touch; untouched
buckets are carried forward by reference in a versioned JSON manifest — the
same shape as an Iceberg snapshot: the manifest lists (bucket -> data path,
row count, per-column min/max harvested from parquet footer statistics), a
commit writes new bucket files plus a new manifest and atomically flips a
pointer file.  Reads prune on the manifest stats (`read_current(where=...)`)
— Iceberg's data-file min/max skipping — so a selective range predicate
opens only the buckets whose recorded range can match.  Each manifest also
records the snapshot's Spark schema, so a read plans from metadata alone:
no Spark job opens parquet footers to infer it.  Readers of older snapshots are never
disturbed (data files are immutable once referenced).  On real Iceberg this
whole module is `MERGE INTO t USING u ON keys WHEN MATCHED THEN UPDATE *
WHEN NOT MATCHED THEN INSERT *` with snapshot isolation; bucket pruning is
what Iceberg's bucket partition transform gives for free.

Per-snapshot lineage (version, per-bucket rows, rows_total) rides in the
manifest — the metrics half of the north rule's "lineage + metrics in
Iceberg metadata".
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from uncharted_ta1_spark.functions.portable import md5_i64

_SEP = "\x1f"


def _key_bucket(key_cols: list[str], n_buckets: int) -> F.Column:
    key = F.concat_ws(_SEP, *[F.col(c).cast("string") for c in key_cols])
    return F.pmod(md5_i64(key), F.lit(n_buckets)).cast("int")


def _ptr_path(target_dir: str) -> str:
    return os.path.join(target_dir, "_CURRENT")


def _manifest_path(target_dir: str, version: int) -> str:
    return os.path.join(target_dir, f"v{version}.manifest.json")


def current_manifest(target_dir: str) -> dict | None:
    ptr = _ptr_path(target_dir)
    if not os.path.exists(ptr):
        return None
    version = int(open(ptr).read().strip())
    with open(_manifest_path(target_dir, version)) as f:
        return json.load(f)


def _bucket_paths(target_dir: str, manifest: dict, buckets=None) -> list[str]:
    entries = manifest["buckets"]
    keys = sorted(entries, key=int) if buckets is None else [str(b) for b in buckets]
    return [os.path.join(target_dir, entries[k]["path"]) for k in keys if k in entries]


def _snapshot_schema(manifest: dict) -> StructType:
    """The Spark schema a commit recorded for its snapshot."""
    if "schema" not in manifest:
        raise ValueError(
            f"manifest v{manifest['version']} records no schema; the table was "
            "written by an older merge.py and must be rewritten"
        )
    return StructType.fromJson(manifest["schema"])


def _read_buckets(spark: SparkSession, manifest: dict, paths: list[str]) -> DataFrame:
    """Read bucket dirs with the snapshot's recorded schema: a column that
    some files lack (added or omitted by a later commit) reads as NULL, and
    no footer-inference job runs."""
    return spark.read.schema(_snapshot_schema(manifest)).parquet(*paths)


def _commit_schema(prev: dict | None, written: StructType) -> dict:
    """Schema of the snapshot a commit produces, as ``schema.json()``: the
    previous snapshot's columns in their order (typed as written, where the
    commit wrote them), then the columns the commit added — the schema a
    footer-merging read of the new snapshot would infer."""
    cols = {f.name: f for f in written.fields if f.name != "_bucket"}
    fields = []
    if prev is not None:
        for f in _snapshot_schema(prev).fields:
            fields.append(cols.pop(f.name, f))
    fields.extend(cols.values())
    return json.loads(StructType(fields).json())


def _stats_match(entry: dict, where: dict) -> bool:
    """Conservative min/max check: a bucket is skippable only when its
    recorded [min, max] for some predicate column provably cannot
    intersect the requested range.  Missing stats (older manifests, or a
    column whose footer statistics were unavailable) never prune."""
    stats = entry.get("stats") or {}
    for col, (lo, hi) in where.items():
        st = stats.get(col)
        if not st:
            continue
        mn, mx = st
        if mn is None or mx is None:
            continue
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    return True


def prune_buckets(manifest: dict, where: dict | None) -> list[str]:
    """Bucket keys surviving manifest min/max pruning for ``where`` — a dict
    of ``col -> (lo, hi)`` inclusive bounds (None = unbounded).  This is
    the Iceberg file-skipping analog: the scan plans from manifest
    metadata alone, no data file is opened to decide."""
    keys = sorted(manifest["buckets"], key=int)
    if not where:
        return keys
    return [k for k in keys if _stats_match(manifest["buckets"][k], where)]


def scan_info(target_dir: str, where: dict | None = None) -> dict:
    """Metadata-only scan plan: how many buckets a predicate reads."""
    m = current_manifest(target_dir)
    if m is None:
        return {"n_buckets_total": 0, "n_buckets_read": 0, "buckets": []}
    kept = prune_buckets(m, where)
    return {
        "n_buckets_total": len(m["buckets"]),
        "n_buckets_read": len(kept),
        "buckets": kept,
    }


def read_current(
    spark: SparkSession,
    target_dir: str,
    *,
    where: dict | None = None,
) -> DataFrame | None:
    """Read the current snapshot; with ``where`` (``col -> (lo, hi)``
    inclusive bounds), buckets whose manifest min/max cannot match are
    never opened.  Pruning is advisory-safe: the caller still applies its
    real predicate — a pruned scan returns a superset of matching rows,
    never a subset."""
    m = current_manifest(target_dir)
    if m is None:
        return None
    kept = prune_buckets(m, where)
    all_paths = _bucket_paths(target_dir, m)
    if not all_paths:
        return None
    paths = _bucket_paths(target_dir, m, kept)
    if not paths:
        # everything pruned: an empty frame with the table's schema
        return _read_buckets(spark, m, all_paths[:1]).where(F.lit(False))
    return _read_buckets(spark, m, paths)


def read_snapshot(spark: SparkSession, target_dir: str, version: int) -> DataFrame:
    """Time-travel read of an older snapshot (Iceberg VERSION AS OF analog).

    Data files are immutable once referenced by a manifest and never deleted
    by later merges, so every historical version stays readable.
    """
    with open(_manifest_path(target_dir, version)) as f:
        m = json.load(f)
    return _read_buckets(spark, m, _bucket_paths(target_dir, m))


def _json_stat(v):
    """Footer statistics value -> JSON-storable scalar (or None to drop)."""
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, bool) or not isinstance(v, (int, float, str)):
        return None
    return v


def _dir_meta(path: str, stats_cols: list[str]) -> tuple[int, dict]:
    """Row count + per-column [min, max] of one bucket dir, read from
    parquet FOOTER row-group statistics only — the Iceberg data-file
    stats mechanism, zero Spark jobs, zero data pages touched.  A column
    loses its bucket stats entirely if any row group lacks usable
    statistics (conservative: missing stats never prune)."""
    import pyarrow.parquet as pq

    rows = 0
    lo: dict = {}
    hi: dict = {}
    dropped: set = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            rows += md.num_rows
            colidx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            for c in stats_cols:
                if c in dropped:
                    continue
                j = colidx.get(c)
                if j is None:
                    dropped.add(c)
                    continue
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(j).statistics
                    if st is None or not st.has_min_max:
                        dropped.add(c)
                        break
                    mn, mx = _json_stat(st.min), _json_stat(st.max)
                    if mn is None or mx is None:
                        dropped.add(c)
                        break
                    lo[c] = mn if c not in lo or mn < lo[c] else lo[c]
                    hi[c] = mx if c not in hi or mx > hi[c] else hi[c]
    stats = {
        c: [lo[c], hi[c]] for c in stats_cols if c in lo and c not in dropped
    }
    return rows, stats


def _commit_manifest(target_dir: str, new_manifest: dict) -> None:
    """CAS-publish a fully-written manifest under its versioned name, then
    atomically flip the `_CURRENT` pointer.  See the commit-atomicity note
    in :func:`merge_upsert` (this is the shared tail of every commit)."""
    next_v = new_manifest["version"]
    mpath = _manifest_path(target_dir, next_v)
    tmp_m = os.path.join(target_dir, f".manifest-{next_v}.{os.getpid()}.tmp")
    with open(tmp_m, "w") as f:
        json.dump(new_manifest, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp_m, mpath)  # atomic AND exclusive publish
    except FileExistsError as e:
        raise RuntimeError(
            f"concurrent merge detected: manifest version {next_v} already "
            "committed by another writer; re-read the table and retry"
        ) from e
    finally:
        try:
            os.unlink(tmp_m)
        except OSError:
            pass
    tmp_ptr = os.path.join(target_dir, "._CURRENT.tmp")
    with open(tmp_ptr, "w") as f:
        f.write(str(next_v))
    os.replace(tmp_ptr, _ptr_path(target_dir))  # atomic snapshot flip


def compact_table(
    spark: SparkSession,
    target_dir: str,
    *,
    n_buckets: int | None = None,
    stats_cols: list[str] | None = None,
) -> dict:
    """Compaction + partition-spec evolution — the Iceberg
    ``rewrite_data_files`` / bucket-transform-evolution analog.

    Reads the CURRENT snapshot, re-buckets every row (optionally into a new
    bucket count — evolving the table's bucket layout, which later merges
    pick up from the manifest), writes one fresh file set, and commits it
    as a new version.  Content is identical by construction; the file count
    collapses to ~one per bucket, fixing the small-file accumulation that
    per-delta MERGE commits produce at 10^12-row scale.  Old snapshots stay
    readable until :func:`expire_snapshots` reclaims them.
    """
    manifest = current_manifest(target_dir)
    if manifest is None:
        raise ValueError(f"no table at {target_dir}")
    key_cols = manifest["key_cols"]
    nb = int(n_buckets) if n_buckets is not None else int(manifest["n_buckets"])
    cur = _read_buckets(spark, manifest, _bucket_paths(target_dir, manifest))
    df = cur.withColumn("_bucket", _key_bucket(key_cols, nb))

    next_v = manifest["version"] + 1
    data_rel = f"v{next_v}.data"
    data_dir = os.path.join(target_dir, data_rel)
    (
        df.repartition("_bucket")
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(data_dir)
    )
    scols = list(stats_cols) if stats_cols is not None else list(key_cols)
    entries: dict = {}
    for b in range(nb):
        bdir = os.path.join(data_dir, f"_bucket={b}")
        if os.path.isdir(bdir):
            rows, stats = _dir_meta(bdir, scols)
            entries[str(b)] = {
                "path": f"{data_rel}/_bucket={b}",
                "rows": rows,
                "stats": stats,
            }
    rows_total = sum(e["rows"] for e in entries.values())
    _commit_manifest(target_dir, {
        "version": next_v,
        "n_buckets": nb,
        "key_cols": list(key_cols),
        "rows_total": rows_total,
        "rows_updated": 0,
        "rows_inserted": 0,
        "compacted": True,
        "schema": _commit_schema(manifest, df.schema),
        "buckets": entries,
    })
    return {
        "version": next_v,
        "rows_total": rows_total,
        "n_buckets": nb,
        "n_files": data_files(target_dir, next_v),
    }


def _manifest_versions(target_dir: str) -> list[int]:
    out = []
    for fn in os.listdir(target_dir):
        if fn.startswith("v") and fn.endswith(".manifest.json"):
            try:
                out.append(int(fn[1:].split(".", 1)[0]))
            except ValueError:
                pass
    return sorted(out)


def data_files(target_dir: str, version: int | None = None) -> int:
    """Parquet data-file count referenced by one snapshot (default: current)."""
    if version is None:
        m = current_manifest(target_dir)
    else:
        with open(_manifest_path(target_dir, version)) as f:
            m = json.load(f)
    n = 0
    for p in _bucket_paths(target_dir, m):
        for _root, _dirs, files in os.walk(p):
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def expire_snapshots(target_dir: str, *, keep_last: int = 1) -> dict:
    """Iceberg ``expire_snapshots`` analog: drop all but the newest
    ``keep_last`` manifests and physically delete every data file no
    retained manifest references.  Time-travel to an expired version fails
    (its manifest is gone); the current snapshot is never touched — a data
    file shared by a retained and an expired snapshot survives because
    liveness is computed over the RETAINED manifest set, not version age.
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _manifest_versions(target_dir)
    if not versions:
        return {"versions_expired": 0, "dirs_deleted": 0}
    ptr = _ptr_path(target_dir)
    cur_v = int(open(ptr).read().strip()) if os.path.exists(ptr) else versions[-1]
    retained = [v for v in versions if v > cur_v - keep_last or v == cur_v]
    expired = [v for v in versions if v not in retained]

    live: set = set()
    for v in retained:
        with open(_manifest_path(target_dir, v)) as f:
            m = json.load(f)
        for e in m["buckets"].values():
            live.add(os.path.normpath(e["path"]))

    dirs_deleted = 0
    for fn in sorted(os.listdir(target_dir)):
        if not (fn.startswith("v") and fn.endswith(".data")):
            continue
        ddir = os.path.join(target_dir, fn)
        if not os.path.isdir(ddir):
            continue
        for sub in sorted(os.listdir(ddir)):
            rel = os.path.normpath(os.path.join(fn, sub))
            if sub.startswith("_bucket=") and rel not in live:
                shutil.rmtree(os.path.join(ddir, sub), ignore_errors=True)
                dirs_deleted += 1
        if not any(s.startswith("_bucket=") for s in os.listdir(ddir)):
            shutil.rmtree(ddir, ignore_errors=True)
    for v in expired:
        try:
            os.unlink(_manifest_path(target_dir, v))
        except OSError:
            pass
    return {"versions_expired": len(expired), "dirs_deleted": dirs_deleted}


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    *,
    n_buckets: int = 16,
    order_col: str | None = None,
    stats_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> dict:
    """Upsert `updates` into the keyed table at `target_dir`.

    ``delete_col``: name of a boolean column in `updates` marking tombstone
    rows — Iceberg's ``WHEN MATCHED THEN DELETE`` arm.  After the per-key
    last-write-wins collapse, a key whose surviving row is a tombstone is
    REMOVED from the table (a tombstone for an absent key is a no-op); the
    column itself is never stored.  Returned dict gains ``rows_deleted``.

    ``stats_cols``: columns whose per-bucket [min, max] is recorded in the
    manifest (harvested from parquet footer row-group statistics — no extra
    Spark job) so later :func:`read_current` calls can skip buckets a range
    predicate cannot match.  Defaults to the key columns.  Untouched
    buckets carry their previous stats forward unchanged.

    ``order_col``: when `updates` may contain several rows per key, the row
    with the greatest ``order_col`` wins (last-write-wins *within* the batch
    too).  Without it, duplicate keys in one batch are collapsed by an
    internal deterministic tie-break on the bucket hash of all columns —
    pass ``order_col`` when intra-batch ordering matters.

    Returns {"version", "rows_total", "rows_updated", "rows_inserted"}.
    """
    os.makedirs(target_dir, exist_ok=True)

    # sweep stale scratch manifests from crashed committers (the versioned
    # manifest names themselves are never partial — see the commit note
    # below).  Age-gated so a concurrent committer mid-write is never robbed
    # of its tmp file; an hour-old .tmp is a crash artifact.
    now = time.time()
    for fn in os.listdir(target_dir):
        if fn.startswith(".manifest-") and fn.endswith(".tmp"):
            p = os.path.join(target_dir, fn)
            try:
                if now - os.path.getmtime(p) > 3600:
                    os.unlink(p)
            except OSError:
                pass

    # --- collapse updates to one row per key (ADVICE round 1: duplicate keys
    # in one batch must not survive the anti-join+union) -------------------
    if order_col is not None:
        ordering = [F.col(order_col).desc()]
    else:
        ordering = [md5_i64(F.concat_ws(_SEP, *[F.col(c).cast("string") for c in updates.columns])).desc()]
    w = Window.partitionBy(*key_cols).orderBy(*ordering)
    updates = (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # tombstone split AFTER the collapse: the key's last write decides
    # whether it is an upsert or a delete
    if delete_col is not None:
        is_del = F.coalesce(F.col(delete_col), F.lit(False))
        keyed = updates.withColumn("_del", is_del).drop(delete_col)
    else:
        keyed = updates.withColumn("_del", F.lit(False))

    manifest = current_manifest(target_dir)
    if manifest is not None and manifest["n_buckets"] != n_buckets:
        n_buckets = manifest["n_buckets"]  # bucket layout is a table property

    # materialize the collapsed+bucketed delta ONCE: four actions consume it
    # (touched-bucket collect, the counter aggregation, the anti-join key
    # set, and the bucket write) and each would otherwise re-run the
    # caller's update derivation plus the collapse window (guide §5:
    # cut lineage for a reused intermediate; the delta is O(batch), the
    # same bound the commit protocol itself relies on).
    # lazy checkpoint: the touched-bucket collect right below is the first
    # action and materializes it — one job instead of an eager-checkpoint
    # job followed by the collect
    keyed = keyed.withColumn(
        "_bucket", _key_bucket(key_cols, n_buckets)
    ).localCheckpoint(eager=False)
    updates = keyed.where(~F.col("_del")).drop("_del")
    # touched-bucket set is bounded by n_buckets — a driver-side list, O(1)
    # (tombstone-only buckets are touched too: their kept rows get rewritten)
    touched = sorted(
        r["_bucket"] for r in keyed.select("_bucket").distinct().collect()
    )

    next_v = 0 if manifest is None else manifest["version"] + 1

    # Counter fusion (guide §1.2 / §5): updated/inserted/deleted ride the
    # write action itself as observed metrics instead of a dedicated
    # key-scan + join + aggregate job per commit.  The kept-rows branch
    # observes how many current rows are replaced (updated) or tombstoned
    # (deleted) while the SAME pass filters them out of the rewrite; the
    # upsert branch observes its row count, and inserted = upserts −
    # updated (the delta is one row per key after the collapse, so the
    # arithmetic is exact).  CollectMetrics accumulators apply once per
    # partition per successful query, so the counts equal the old
    # dedicated aggregation's.
    obs_upd = Observation()
    upd_obs = updates.observe(obs_upd, F.count(F.lit(1)).alias("n"))
    obs_cur = None
    if manifest is None:
        new_df = upd_obs
        old_entries: dict = {}
    else:
        old_entries = dict(manifest["buckets"])
        tpaths = _bucket_paths(target_dir, manifest, touched)
        if tpaths:
            cur = _read_buckets(spark, manifest, tpaths)
            marks = keyed.select(*key_cols, "_del").withColumn("_u", F.lit(1))
            matched = F.col("_u").isNotNull()
            obs_cur = Observation()
            j = cur.join(marks, key_cols, "left").observe(
                obs_cur,
                F.sum(F.when(matched & ~F.col("_del"), 1).otherwise(0)).alias("updated"),
                F.sum(F.when(matched & F.col("_del"), 1).otherwise(0)).alias("deleted"),
            )
            kept = j.where(F.col("_u").isNull()).select(*cur.columns)
            kept = kept.withColumn("_bucket", _key_bucket(key_cols, n_buckets))
            # schema evolution (Iceberg add-column analog): a batch may carry
            # columns the table has never seen (old rows read as NULL) or
            # omit columns the table has (new rows get NULL) — the union
            # fills both sides, and the manifest records the merged schema
            new_df = kept.unionByName(upd_obs, allowMissingColumns=True)
        else:
            new_df = upd_obs

    # --- write ONLY the touched buckets under this version ----------------
    data_rel = f"v{next_v}.data"
    data_dir = os.path.join(target_dir, data_rel)
    (
        new_df.repartition("_bucket")
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(data_dir)
    )
    n_upserts = int(obs_upd.get["n"] or 0)
    if obs_cur is not None:
        _cm = obs_cur.get
        n_updated = int(_cm["updated"] or 0)
        n_deleted = int(_cm["deleted"] or 0)
    else:
        n_updated = 0
        n_deleted = 0
    n_inserted = n_upserts - n_updated
    if n_inserted < 0:
        # the delta holds one row per key, so more matches than upserts
        # means some key has several current rows; refuse to commit
        raise RuntimeError(
            f"table invariant broken at {target_dir}: {n_updated} current rows "
            f"matched {n_upserts} upserted keys, so a key has more than one "
            "current row; the commit was not published"
        )

    entries = dict(old_entries)
    scols = list(stats_cols) if stats_cols is not None else list(key_cols)
    for b in touched:
        bdir = os.path.join(data_dir, f"_bucket={b}")
        if os.path.isdir(bdir):
            rows, stats = _dir_meta(bdir, scols)
            entries[str(b)] = {
                "path": f"{data_rel}/_bucket={b}",
                "rows": rows,
                "stats": stats,
            }
        else:
            entries.pop(str(b), None)
    rows_total = sum(e["rows"] for e in entries.values())

    new_manifest = {
        "version": next_v,
        "n_buckets": n_buckets,
        "key_cols": list(key_cols),
        "rows_total": rows_total,
        "rows_updated": n_updated,
        "rows_inserted": n_inserted,
        "rows_deleted": n_deleted,
        "schema": _commit_schema(manifest, new_df.schema),
        "buckets": entries,
    }
    # compare-and-swap commit with crash atomicity: the manifest is written
    # COMPLETELY to a private tmp file, then published under its versioned
    # name via os.link — which, like O_EXCL, fails if the name exists (two
    # writers that both read version v-1 cannot both commit v; the loser
    # fails loudly instead of silently discarding the winner's rows —
    # Iceberg's optimistic-concurrency commit analog), but unlike a direct
    # O_EXCL write can never leave a PARTIAL manifest-v file behind on a
    # crash: the versioned name either does not exist or points at a fully
    # written manifest, so a crashed commit never wedges later merges.
    _commit_manifest(target_dir, new_manifest)
    return {
        "version": next_v,
        "rows_total": rows_total,
        "rows_updated": n_updated,
        "rows_inserted": n_inserted,
        "rows_deleted": n_deleted,
    }
