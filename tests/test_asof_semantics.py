"""As-of join semantic guarantees: zero temporal leakage, inclusive ties,
deterministic tie-breaks, fallback behavior.

Mirrors the reference's invariant that probe answers only ever use state
fitted from already-extracted keypoints
(``tasks/geo_referencing/georeference.py:112-155``) and the confidence-0
fallback (``georeference.py:391-429``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from uncharted_ta1_spark import datagen
from uncharted_ta1_spark.operators.asof import asof_join

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tiny(spark):
    state = spark.createDataFrame(
        [
            ("d1", "s1", 10, 100),
            ("d1", "s1", 20, 200),
            ("d1", "s1", 20, 201),  # tie at ts=20; greater seq wins
            ("d1", "s2", 15, 150),
            ("d2", "s1", 50, 500),
        ],
        "doc_id string, source string, event_epoch long, payload long",
    )
    probes = spark.createDataFrame(
        [
            ("p1", "d1", "s1", 20),  # exact tie → inclusive, payload 201
            ("p2", "d1", "s1", 19),  # between → payload 100
            ("p3", "d1", "s1", 9),   # before all → fallback
            ("p4", "d1", "s2", 99),  # other source isolated → 150
            ("p5", "d3", "s1", 99),  # unknown doc → fallback
            ("p6", "d2", "s1", 50),  # exact equality at group start
        ],
        "probe_id string, doc_id string, source string, ts_epoch long",
    )
    return state, probes


@pytest.fixture(params=[False, True], ids=["single_window", "thin"])
def via_join(request):
    """Both payload strategies of the one as-of core: the payload in the
    filled struct, or the thin anchor plus the payload join-back."""
    return request.param


def _run(state, probes, via_join, **kw):
    out = asof_join(
        state,
        probes,
        keys=["doc_id", "source"],
        payload_cols=["payload"],
        tiebreak_cols=["payload"],
        defaults={"payload": F.lit(-1)},
        fetch_payload_via_join=via_join,
        **kw,
    )
    return {r.probe_id: r for r in out.collect()}


def test_inclusive_tie_and_tiebreak(spark, tiny, via_join):
    res = _run(*tiny, via_join)
    assert res["p1"].asof_payload == 201  # inclusive + greatest tiebreak wins
    assert res["p1"].asof_event_epoch == 20
    assert res["p6"].asof_payload == 500
    assert res["p6"].asof_age_sec == 0


def test_between_and_isolation(spark, tiny, via_join):
    res = _run(*tiny, via_join)
    assert res["p2"].asof_payload == 100  # never the future row at 20
    assert res["p4"].asof_payload == 150  # source groups are isolated


def test_fallback(spark, tiny, via_join):
    res = _run(*tiny, via_join)
    for p in ("p3", "p5"):
        assert res[p].fallback_used
        assert res[p].asof_payload == -1
        assert res[p].asof_event_epoch is None
        assert res[p].asof_age_sec is None


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_null_state_ts_never_matches(spark, via_join, direction):
    """A state row with no timestamp has no place in time: it answers no
    probe, under either payload strategy and in either direction."""
    state = spark.createDataFrame(
        [("d1", "s1", None, 7), ("d1", "s1", 5, 8)],
        "doc_id string, source string, event_epoch long, payload long",
    )
    probes = spark.createDataFrame(
        [("p3", "d1", "s1", 3), ("p6", "d1", "s1", 6)],
        "probe_id string, doc_id string, source string, ts_epoch long",
    )
    res = _run(state, probes, via_join, direction=direction)
    hit, miss = ("p6", "p3") if direction == "backward" else ("p3", "p6")
    assert res[hit].asof_payload == 8 and res[hit].asof_event_epoch == 5
    assert not res[hit].fallback_used
    assert res[miss].fallback_used
    assert res[miss].asof_payload == -1
    assert res[miss].asof_event_epoch is None


def test_no_temporal_leakage_full(spark):
    """For every non-fallback answer at sf0.001: matched ts <= probe ts AND
    no state row exists strictly between them (the match is the latest)."""
    seq = datagen.sequences_df(spark, SF).select(
        "doc_id", "source", "event_epoch", "tokens", "n_tok"
    )
    prb = datagen.probes_df(spark, SF).select("probe_id", "doc_id", "source", "ts_epoch")
    ans = asof_join(seq, prb, keys=["doc_id", "source"], payload_cols=["n_tok"])

    leaked = ans.where(
        (~F.col("fallback_used")) & (F.col("asof_event_epoch") > F.col("ts_epoch"))
    ).count()
    assert leaked == 0

    # a state row strictly inside (asof_event_epoch, ts_epoch] would mean the
    # answer was not the latest admissible state
    stale = (
        ans.where(~F.col("fallback_used"))
        .join(seq.select("doc_id", "source", F.col("event_epoch").alias("other_ts")),
              ["doc_id", "source"])
        .where(
            (F.col("other_ts") > F.col("asof_event_epoch"))
            & (F.col("other_ts") <= F.col("ts_epoch"))
        )
        .count()
    )
    assert stale == 0

    # fallback iff no admissible state exists
    bad_fb = (
        ans.where(F.col("fallback_used"))
        .join(seq.select("doc_id", "source", F.col("event_epoch").alias("other_ts")),
              ["doc_id", "source"], "left")
        .where(F.col("other_ts") <= F.col("ts_epoch"))
        .count()
    )
    assert bad_fb == 0


def test_probe_coverage_paths(spark):
    """The derived probe set exercises all three paths: match, exact tie,
    fallback (FIXTURES.md §2)."""
    seq = datagen.sequences_df(spark, SF).select(
        "doc_id", "source", "event_epoch", "n_tok"
    )
    prb = datagen.probes_df(spark, SF).select("probe_id", "doc_id", "source", "ts_epoch")
    ans = asof_join(seq, prb, keys=["doc_id", "source"], payload_cols=["n_tok"])
    n_fallback = ans.where("fallback_used").count()
    n_match = ans.where("NOT fallback_used").count()
    n_tie = ans.where("asof_event_epoch = ts_epoch").count()
    assert n_fallback > 0 and n_match > 0 and n_tie > 0
