"""MERGE-upsert semantics: last-write-wins by key, survivors untouched,
replay idempotence (ST6), O(delta) bucket-scoped rewrites."""

from __future__ import annotations

import json
import os
import shutil

import pyspark
import pytest

from tests.oracle_check import canonical_rows
from uncharted_ta1_spark.plans.merge import current_manifest, merge_upsert, read_current


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, op_id string, payload long")


def test_merge_upsert_semantics(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = merge_upsert(spark, t, _df(spark, [("d1", "op", 1), ("d2", "op", 2)]), ["doc_id", "op_id"])
    assert s1 == {
        "version": 0, "rows_total": 2, "rows_updated": 0,
        "rows_inserted": 2, "rows_deleted": 0,
    }

    # d2 updated, d3 inserted, d1 untouched
    s2 = merge_upsert(spark, t, _df(spark, [("d2", "op", 20), ("d3", "op", 3)]), ["doc_id", "op_id"])
    assert s2["rows_total"] == 3 and s2["rows_updated"] == 1 and s2["rows_inserted"] == 1
    got = {r.doc_id: r.payload for r in read_current(spark, t).collect()}
    assert got == {"d1": 1, "d2": 20, "d3": 3}


def test_merge_replay_idempotent(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    upd = _df(spark, [("a", "op", 1), ("b", "op", 2)])
    merge_upsert(spark, t, upd, ["doc_id", "op_id"])
    before = canonical_rows(read_current(spark, t).toPandas())
    s = merge_upsert(spark, t, upd, ["doc_id", "op_id"])  # replay
    after = canonical_rows(read_current(spark, t).toPandas())
    assert before == after
    assert s["rows_updated"] == 2 and s["rows_inserted"] == 0


def test_merge_intra_batch_duplicate_keys_collapse(spark, tmp_path):
    """Several rows for one key inside ONE batch must collapse to a single
    surviving row (greatest order_col wins) — no duplicate keys in target."""
    t = str(tmp_path / "tbl3")
    upd = spark.createDataFrame(
        [("k", "op", 1, 10), ("k", "op", 2, 20), ("j", "op", 1, 5)],
        "doc_id string, op_id string, ver long, payload long",
    )
    s = merge_upsert(spark, t, upd, ["doc_id", "op_id"], order_col="ver")
    assert s["rows_total"] == 2 and s["rows_inserted"] == 2
    got = {r.doc_id: r.payload for r in read_current(spark, t).collect()}
    assert got == {"k": 20, "j": 5}


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """O(delta) guarantee: a merge must NOT rewrite buckets its updates do
    not touch — untouched buckets stay byte-identical files, referenced from
    the prior snapshot by the new manifest."""
    t = str(tmp_path / "tbl4")
    base = [(f"d{i}", "op", i) for i in range(64)]
    merge_upsert(spark, t, _df(spark, base), ["doc_id", "op_id"], n_buckets=8)
    m1 = current_manifest(t)

    def bucket_files(manifest, b):
        d = os.path.join(t, manifest["buckets"][b]["path"])
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    s2 = merge_upsert(spark, t, _df(spark, [("d1", "op", 100)]), ["doc_id", "op_id"])
    m2 = current_manifest(t)
    touched = {b for b in m2["buckets"] if m2["buckets"][b]["path"] != m1["buckets"][b]["path"]}
    assert len(touched) == 1, "single-key update must touch exactly one bucket"
    for b in m2["buckets"]:
        if b in touched:
            assert m2["buckets"][b]["path"].startswith(f"v{m2['version']}.data")
        else:
            # untouched bucket: same path AND same physical files
            assert m2["buckets"][b] == m1["buckets"][b]
            assert bucket_files(m2, b) == bucket_files(m1, b)
    assert s2["rows_total"] == 64 and s2["rows_updated"] == 1
    got = {r.doc_id: r.payload for r in read_current(spark, t).collect()}
    assert got["d1"] == 100 and len(got) == 64


def test_concurrent_commit_collision_fails_loudly(spark, tmp_path):
    """Two writers that both observed version v must not both commit v+1:
    the second commit hits the O_CREAT|O_EXCL manifest CAS and raises
    instead of silently discarding the first writer's rows."""
    import pytest

    from uncharted_ta1_spark.plans.merge import _manifest_path

    t = str(tmp_path / "tbl_cas")
    merge_upsert(spark, t, _df(spark, [("d1", "op", 1)]), ["doc_id", "op_id"])
    # simulate a racing writer that already committed version 1
    with open(_manifest_path(t, 1), "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="concurrent merge"):
        merge_upsert(spark, t, _df(spark, [("d2", "op", 2)]), ["doc_id", "op_id"])


def test_manifest_minmax_pruning_skips_buckets(spark, tmp_path):
    """Iceberg file-skipping analog: per-bucket [min,max] recorded at
    commit time (from parquet footer statistics) must let a selective
    range predicate open FEWER parquet files, while returning exactly the
    rows the full scan returns under the same predicate."""
    from uncharted_ta1_spark.plans.merge import scan_info

    t = str(tmp_path / "tbl_prune")
    rows = [(f"d{i}", "op", i) for i in range(16)]
    merge_upsert(
        spark, t, _df(spark, rows), ["doc_id", "op_id"],
        n_buckets=8, stats_cols=["payload"],
    )
    m = current_manifest(t)
    # every bucket carries payload stats
    for e in m["buckets"].values():
        assert "payload" in e["stats"]
        lo, hi = e["stats"]["payload"]
        assert 0 <= lo <= hi <= 15

    where = {"payload": (3, 3)}
    info = scan_info(t, where)
    assert 0 < info["n_buckets_read"] < info["n_buckets_total"]

    full = read_current(spark, t)
    pruned = read_current(spark, t, where=where)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # pruning safety: identical matching rows
    want = sorted(
        (r.doc_id, r.payload)
        for r in full.where("payload BETWEEN 3 AND 3").collect()
    )
    got = sorted(
        (r.doc_id, r.payload)
        for r in pruned.where("payload BETWEEN 3 AND 3").collect()
    )
    assert got == want == [("d3", 3)]


def test_manifest_stats_carried_and_refreshed(spark, tmp_path):
    """Untouched buckets keep their previous stats verbatim; a touched
    bucket's stats reflect the merged content (here: d3's payload jumps to
    100, widening only its own bucket's max)."""
    t = str(tmp_path / "tbl_prune2")
    rows = [(f"d{i}", "op", i) for i in range(16)]
    merge_upsert(
        spark, t, _df(spark, rows), ["doc_id", "op_id"],
        n_buckets=8, stats_cols=["payload"],
    )
    m1 = current_manifest(t)
    merge_upsert(
        spark, t, _df(spark, [("d3", "op", 100)]), ["doc_id", "op_id"],
        stats_cols=["payload"],
    )
    m2 = current_manifest(t)
    changed = [
        b for b in m2["buckets"]
        if m2["buckets"][b]["path"] != m1["buckets"][b]["path"]
    ]
    assert len(changed) == 1
    assert m2["buckets"][changed[0]]["stats"]["payload"][1] == 100
    for b in m2["buckets"]:
        if b != changed[0]:
            assert m2["buckets"][b]["stats"] == m1["buckets"][b]["stats"]


def test_prune_everything_returns_empty_with_schema(spark, tmp_path):
    t = str(tmp_path / "tbl_prune3")
    merge_upsert(
        spark, t, _df(spark, [("a", "op", 1)]), ["doc_id", "op_id"],
        stats_cols=["payload"],
    )
    out = read_current(spark, t, where={"payload": (999, None)})
    assert out.count() == 0
    assert set(out.columns) >= {"doc_id", "op_id", "payload"}


def test_compact_rebucket_preserves_content(spark, tmp_path):
    """Iceberg rewrite_data_files + bucket-spec evolution: compaction into a
    NEW bucket count keeps content identical, shrinks the referenced file
    set, and later merges adopt the evolved layout from the manifest."""
    from uncharted_ta1_spark.plans.merge import compact_table, data_files

    t = str(tmp_path / "tbl_compact")
    for lo in (0, 8, 16):  # three fragmenting deltas
        rows = [(f"d{i}", "op", i) for i in range(lo, lo + 8)]
        merge_upsert(spark, t, _df(spark, rows), ["doc_id", "op_id"], n_buckets=16)
    before = sorted((r.doc_id, r.payload) for r in read_current(spark, t).collect())
    files_before = data_files(t)

    info = compact_table(spark, t, n_buckets=4)
    assert info["n_buckets"] == 4 and info["rows_total"] == 24
    assert data_files(t) < files_before
    after = sorted((r.doc_id, r.payload) for r in read_current(spark, t).collect())
    assert after == before
    assert current_manifest(t)["n_buckets"] == 4

    # a post-compaction merge adopts the evolved 4-bucket layout
    merge_upsert(spark, t, _df(spark, [("d0", "op", 999)]), ["doc_id", "op_id"])
    m = current_manifest(t)
    assert m["n_buckets"] == 4 and all(int(b) < 4 for b in m["buckets"])
    got = {r.doc_id: r.payload for r in read_current(spark, t).collect()}
    assert got["d0"] == 999 and len(got) == 24


def test_expire_snapshots_reclaims_unreferenced_files(spark, tmp_path):
    """expire_snapshots drops old manifests and deletes ONLY data dirs no
    retained manifest references; current content is untouched; expired
    versions stop time-traveling."""
    import pytest

    from uncharted_ta1_spark.plans.merge import expire_snapshots, read_snapshot

    t = str(tmp_path / "tbl_expire")
    for v, lo in enumerate((0, 4, 8)):
        rows = [(f"d{i}", "op", 100 * v + i) for i in range(lo, lo + 4)]
        merge_upsert(spark, t, _df(spark, rows), ["doc_id", "op_id"], n_buckets=8)
    want = sorted((r.doc_id, r.payload) for r in read_current(spark, t).collect())

    res = expire_snapshots(t, keep_last=1)
    assert res["versions_expired"] == 2 and res["dirs_deleted"] > 0
    # current snapshot still reads every row bit-identically (shared files
    # referenced by the retained manifest must have survived)
    got = sorted((r.doc_id, r.payload) for r in read_current(spark, t).collect())
    assert got == want
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, t, 0)
    # idempotent: nothing left to reclaim
    res2 = expire_snapshots(t, keep_last=1)
    assert res2 == {"versions_expired": 0, "dirs_deleted": 0}


def test_schema_evolution_add_and_omit_column(spark, tmp_path):
    """Iceberg add-column analog: a later batch may ADD a column (old rows
    read NULL) or OMIT one (new rows read NULL); reads use the schema each
    manifest records, which matches a footer-merging read of the same
    files; time-travel of the pre-evolution snapshot is unaffected."""
    from uncharted_ta1_spark.plans.merge import read_snapshot

    def merged_read(manifest):
        paths = [os.path.join(t, e["path"]) for _, e in sorted(
            manifest["buckets"].items(), key=lambda kv: int(kv[0]))]
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    t = str(tmp_path / "tbl_evolve")
    merge_upsert(spark, t, _df(spark, [("a", "op", 1), ("b", "op", 2)]), ["doc_id", "op_id"])
    wide = spark.createDataFrame(
        [("b", "op", 20, 0.5), ("c", "op", 3, 0.7)],
        "doc_id string, op_id string, payload long, quality double",
    )
    merge_upsert(spark, t, wide, ["doc_id", "op_id"])
    got = {r.doc_id: (r.payload, r.quality) for r in read_current(spark, t).collect()}
    assert got == {"a": (1, None), "b": (20, 0.5), "c": (3, 0.7)}

    # omit `payload` entirely in the third batch
    narrow = spark.createDataFrame(
        [("d", "op", 0.9)], "doc_id string, op_id string, quality double"
    )
    merge_upsert(spark, t, narrow, ["doc_id", "op_id"])
    got = {r.doc_id: (r.payload, r.quality) for r in read_current(spark, t).collect()}
    assert got["d"] == (None, 0.9) and got["a"] == (1, None)

    # the v0 snapshot still reads with its original 3-column schema
    snap0 = read_snapshot(spark, t, 0)
    assert set(snap0.columns) == {"doc_id", "op_id", "payload"}

    # same names, order and types as inferring the schema from the footers
    cur = read_current(spark, t)
    assert cur.dtypes == merged_read(current_manifest(t)).dtypes
    with open(os.path.join(t, "v0.manifest.json")) as f:
        assert snap0.dtypes == merged_read(json.load(f)).dtypes


def test_merge_refuses_duplicate_current_rows(spark, tmp_path):
    """A key with two current rows breaks the table invariant: the commit
    must raise instead of reporting a negative insert count, and must not
    publish a new snapshot."""
    t = str(tmp_path / "tbl_dup")
    merge_upsert(spark, t, _df(spark, [("d1", "op", 1)]), ["doc_id", "op_id"])
    # plant a second copy of the bucket's only data file
    (bucket,) = current_manifest(t)["buckets"].values()
    bdir = os.path.join(t, bucket["path"])
    (part,) = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    shutil.copyfile(os.path.join(bdir, part), os.path.join(bdir, "dup-" + part))

    with pytest.raises(RuntimeError, match="more than one current row"):
        merge_upsert(spark, t, _df(spark, [("d1", "op", 10)]), ["doc_id", "op_id"])
    assert current_manifest(t)["version"] == 0


def test_merge_delete_tombstones(spark, tmp_path):
    """WHEN MATCHED THEN DELETE: tombstone rows remove their key, a
    tombstone for an absent key is a no-op, and the per-key last-write-wins
    collapse decides upsert-vs-delete when one batch carries both."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl_del")
    base = _df(spark, [("d1", "op", 1), ("d2", "op", 2), ("d3", "op", 3)])
    merge_upsert(spark, t, base, ["doc_id", "op_id"])

    delta = spark.createDataFrame(
        [
            ("d2", "op", 99, False, 1),   # plain update
            ("d3", "op", 0, True, 1),     # delete existing
            ("d9", "op", 0, True, 1),     # delete absent -> no-op
            ("d4", "op", 4, False, 1),    # insert
            # d1: update at ord 1, then delete at ord 2 -> delete wins
            ("d1", "op", 10, False, 1),
            ("d1", "op", 0, True, 2),
        ],
        "doc_id string, op_id string, payload long, is_del boolean, ord long",
    )
    s = merge_upsert(
        spark, t, delta, ["doc_id", "op_id"],
        order_col="ord", delete_col="is_del",
    )
    assert s["rows_updated"] == 1      # d2
    assert s["rows_inserted"] == 1     # d4
    assert s["rows_deleted"] == 2      # d1, d3 (d9 was absent)
    got = {r.doc_id: r.payload for r in read_current(spark, t).collect()}
    assert got == {"d2": 99, "d4": 4}
    # the stored schema never carries the tombstone flag or the order col
    assert "is_del" not in read_current(spark, t).columns

    # delete-then-reinsert across batches works (no tombstone resurrection)
    merge_upsert(
        spark, t,
        spark.createDataFrame(
            [("d3", "op", 33, False, 1)],
            "doc_id string, op_id string, payload long, is_del boolean, ord long",
        ),
        ["doc_id", "op_id"], order_col="ord", delete_col="is_del",
    )
    got2 = {r.doc_id: r.payload for r in read_current(spark, t).collect()}
    assert got2 == {"d2": 99, "d3": 33, "d4": 4}


def _fused_commit_jobs(spark, spark_jobs, t, n_buckets):
    """Spark jobs run by the second commit into a table first built with
    ``n_buckets`` buckets."""
    merge_upsert(
        spark, t, _df(spark, [("d1", "op", 1), ("d2", "op", 2)]),
        ["doc_id", "op_id"], n_buckets=n_buckets,
    )
    with spark_jobs(f"merge_fusion_pin_{n_buckets}") as jobs:
        s = merge_upsert(
            spark, t, _df(spark, [("d2", "op", 20), ("d3", "op", 3)]),
            ["doc_id", "op_id"],
        )
    assert s["rows_updated"] == 1 and s["rows_inserted"] == 1
    return len(jobs)


def test_merge_commit_counter_fusion_job_count(spark, tmp_path, spark_jobs):
    """r07 fusion pin: the upsert counters ride the write action as observed
    metrics — a non-first commit must NOT run a dedicated counter
    aggregation action.  AQE splits each action into one job per
    materialized stage, so the exact pin is the envelope measured on Spark
    4.1: the fused commit runs 8 jobs (delta localCheckpoint, touched-bucket
    collect and the staged write).  It ran 9 while the touched buckets were
    read with a mergeSchema footer-inference job; they now read with the
    schema the manifest records.  The pre-fusion path ran 14 (the counter
    join + aggregate stages).  Other Spark versions split stages into jobs
    differently, so there the test checks only that the commit's job count
    does not depend on the table's bucket count."""
    if pyspark.__version__.startswith("4.1."):
        n = _fused_commit_jobs(spark, spark_jobs, str(tmp_path / "tbl_jobs"), 16)
        assert 0 < n <= 8, f"counter fusion regressed: {n} jobs"
    else:
        n16 = _fused_commit_jobs(spark, spark_jobs, str(tmp_path / "t16"), 16)
        n4 = _fused_commit_jobs(spark, spark_jobs, str(tmp_path / "t4"), 4)
        assert 0 < n4 == n16, f"jobs grow with buckets: {n4} vs {n16}"
