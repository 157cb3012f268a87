"""Serving lookups over a merge table: ``asof_answer_batch`` answers a probe
batch against the current snapshot exactly as a batch feature backfill
would, reading the snapshot once and starting no job to plan the read."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from uncharted_ta1_spark import datagen
from uncharted_ta1_spark.features import FEATURE_PAYLOAD, feature_backfill, sequence_features
from uncharted_ta1_spark.plans.merge import merge_upsert, read_current
from uncharted_ta1_spark.streaming.asof_serve import asof_answer_batch

TABLE_KEYS = ["doc_id", "source", "seq_no"]
SERVE_KEYS = ["doc_id", "source"]
PROBE_SCHEMA = "probe_id string, doc_id string, source string, ts_epoch long"
# py4j commands to build one lookup plan: 555 measured (PySpark 4.1), 2,082
# with PySpark's call-site capture on
BUILD_ROUND_TRIPS_MAX = 700


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A two-version keyed table: the sequences, then one commit that
    updates a slice of them and tombstones another."""
    t = str(tmp_path_factory.mktemp("serve") / "tbl")
    seq = datagen.sequences_df(spark, SF_SMOKE)
    merge_upsert(spark, t, seq, TABLE_KEYS)
    delta = seq.where(F.col("seq_no") % 7 == 0).select(
        *[F.col(c) for c in seq.columns if c != "n_tok"],
        (F.col("n_tok") + 1).alias("n_tok"),
        (F.col("seq_no") % 2 == 0).alias("deleted"),
    )
    merge_upsert(spark, t, delta, TABLE_KEYS, delete_col="deleted")
    return t


def _batch(spark, t):
    """Probes with duplicate keys, keys absent from the state and a probe
    at exactly a state timestamp."""
    state = read_current(spark, t).orderBy("doc_id", "source", "seq_no").limit(40).collect()
    rows = []
    for i, r in enumerate(state[::4]):
        rows.append((f"p{i}a", r.doc_id, r.source, r.event_epoch))  # exact hit
        rows.append((f"p{i}b", r.doc_id, r.source, r.event_epoch + 1))  # same key
        rows.append((f"p{i}c", r.doc_id, r.source, r.event_epoch - 10**9))  # before all
    rows.append(("absent1", "no-such-doc", "x", 10**10))
    rows.append(("absent2", "no-such-doc", "x", 10**10))
    return spark.createDataFrame(rows, PROBE_SCHEMA)


def _answer(spark, t, batch):
    return asof_answer_batch(
        sequence_features(read_current(spark, t)), batch,
        keys=SERVE_KEYS, payload_cols=list(FEATURE_PAYLOAD),
    )


def test_serve_lookup_equals_feature_backfill(spark, table):
    batch = _batch(spark, table)
    got = _answer(spark, table, batch).collect()
    want = feature_backfill(read_current(spark, table), batch).collect()

    def canon(rows):
        return sorted(json.dumps(r.asDict(), sort_keys=True) for r in rows)

    assert canon(got) == canon(want)
    by_id = {r.probe_id: r for r in got}
    assert len(by_id) == len(got) == batch.count()
    assert by_id["p0a"].asof_age_sec == 0 and not by_id["p0a"].fallback_used
    assert by_id["p0c"].fallback_used and by_id["p0c"].asof_n_tok == -1
    assert by_id["absent1"].fallback_used and by_id["absent2"].asof_tokens == []


def test_serve_lookup_scans_snapshot_once(spark, table, spark_jobs):
    """``read_current`` plans from the manifest alone (no footer job), and
    the executed lookup holds one parquet scan of the table: no second
    state scan for a payload join-back."""
    with spark_jobs("serve_read_current") as jobs:
        read_current(spark, table)
    assert jobs == []

    ans = _answer(spark, table, _batch(spark, table))
    ans.collect()
    plan = ans._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("FileScan parquet") == 1, final


def test_serve_lookup_plan_build_round_trips(spark, table, monkeypatch):
    """Building a lookup's lazy plan stays cheap on the Python side.  With
    PySpark's per-call call-site capture on (its default), the build made
    ~2,100 py4j round trips; the engine session turns the capture off."""
    import py4j.clientserver
    import py4j.protocol
    from pyspark.errors import utils as pyspark_errors_utils

    batch = _batch(spark, table)
    # PySpark caches the capture switch at the first wrapped call of the
    # process; make this build read it from the session's conf
    monkeypatch.setattr(pyspark_errors_utils, "_enable_debugging_cache", None)
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    sent = []

    def counting(self, command):
        # object releases run whenever Python's GC frees a proxy, so they
        # depend on what earlier tests left behind; count the build's calls
        if not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(conn, "send_command", counting)
    _answer(spark, table, batch)
    monkeypatch.setattr(conn, "send_command", send)
    assert len(sent) <= BUILD_ROUND_TRIPS_MAX, len(sent)
