"""Point-in-time (as-of) join — the engine's flagship operator.

Semantics (reference analog: ``tasks/geo_referencing/georeference.py:80-275``
— fit per-document state from accumulated keypoints, answer each QueryPoint
against the latest state, fall back to a default when no state exists,
``georeference.py:391-429``):

For every probe row ``(doc_id[, source], ts)`` return the state row with the
greatest ``event_time <= ts`` within the probe's key group — *inclusive* at
equal timestamps (state at exactly ``ts`` is visible), never anything later
(zero temporal leakage).  Probes whose key group has no state at-or-before
``ts`` get engine defaults and ``fallback_used = true`` (the reference's
confidence-0 clue-midpoint fallback).

Scale design
------------
A naive formulation is an inequality join (``state.ts <= probe.ts``) which
Spark plans as a broadcast-nested-loop or a per-key cartesian — quadratic in
the hot keys.  Instead we use the classic **union + running-last window**:

1. tag state rows ``side=0`` and probe rows ``side=1``;
2. union them on a shared schema (the whole state payload rides in ONE struct
   column that is NULL on probe rows — one window fill, no row tearing);
3. one hash-partition shuffle on the join keys, sort within partitions by
   ``(ts, side, *tiebreak)`` — state sorts before probes at equal ts, giving
   inclusive semantics deterministically;
4. ``last(state_struct, ignorenulls=true)`` over
   ``rowsBetween(unboundedPreceding, currentRow)`` carries the latest state
   forward onto every probe row;
5. filter back to probes.

Cost: ONE shuffle of |state| + |probes| rows, fully parallel per key group,
no join explosion, AQE-coalesced.  This is the plan that survives 10^12 rows:
throughput is bounded by shuffle bandwidth, not by key cardinality or probe
fan-out.  Skewed doc_ids shuffle more rows into one partition; because window
partitions cannot be split, extreme skew is handled upstream by bucketing the
state table (see plans/backfill.py) — within a bucket the window sort runs on
the spill-capable UnsafeExternalSorter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _is_wide(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    return isinstance(dt, (ArrayType, MapType, StructType))


def asof_join(
    state: DataFrame,
    probes: DataFrame,
    *,
    keys: Sequence[str] = ("doc_id",),
    state_ts: str = "event_epoch",
    probe_ts: str = "ts_epoch",
    payload_cols: Sequence[str] = ("tokens", "n_tok"),
    tiebreak_cols: Sequence[str] = (),
    prefix: str = "asof_",
    defaults: dict[str, Column] | None = None,
    fetch_payload_via_join: bool | None = None,
    direction: str = "backward",
    tolerance_sec: int | None = None,
) -> DataFrame:
    """As-of join `probes` against `state` on `keys`, inclusive at equal ts.

    Returns one row per probe row: all probe columns, plus for each payload
    column ``c`` a ``{prefix}{c}`` column (default-filled on fallback), plus
    ``{prefix}event_epoch`` (ts of the matched state row, NULL on fallback),
    ``{prefix}age_sec`` (probe ts minus match ts: >= 0 backward, <= 0
    forward) and ``fallback_used``.

    ``direction``: "backward" (default — the greatest state ts <= probe ts,
    zero temporal leakage, the training-feature semantics) or "forward"
    (the smallest state ts >= probe ts — next-arrival lookups, pandas
    merge_asof's forward mode).  Same single-shuffle union + running-last
    plan; forward just traverses the window in descending time order.

    ``tolerance_sec``: maximum |probe ts - state ts| for a match to count;
    a staler/farther state row is treated as no-match (defaults +
    ``fallback_used``) — merge_asof's tolerance semantics, applied AFTER
    the fill so it costs no extra shuffle.

    ``tiebreak_cols`` define a deterministic winner when several state rows
    share one timestamp within a key group (the greatest tuple wins) — the
    analog of the reference's dict-override-by-key merge
    (``tasks/common/pipeline.py:188-199``).

    ``fetch_payload_via_join`` (auto when any payload column is array/struct
    typed): the running-last window carries only the thin match anchor
    ``(ts, *tiebreaks)``; the wide payload is fetched afterwards with an
    equi join back to ``state`` on ``(keys, ts, *tiebreaks)``.  Sorting
    18M thin 80-byte rows instead of wide array-carrying rows is a ~4x win
    measured at bench scale — the window's running buffer would otherwise
    copy the array struct once per output row.  Requires ``(keys, state_ts,
    *tiebreak_cols)`` to be unique on the state side (else the join would
    fan out); the caller's tie-break spec already implies that.
    """
    keys = list(keys)
    payload_cols = list(payload_cols)
    tiebreak_cols = list(tiebreak_cols)
    probe_cols = list(probes.columns)
    anchor = f"{prefix}event_epoch"

    if fetch_payload_via_join is None:
        fetch_payload_via_join = any(
            _is_wide(state.schema[c].dataType) for c in payload_cols
        )
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if fetch_payload_via_join:
        return _asof_join_thin(
            state,
            probes,
            keys=keys,
            state_ts=state_ts,
            probe_ts=probe_ts,
            payload_cols=payload_cols,
            tiebreak_cols=tiebreak_cols,
            prefix=prefix,
            defaults=defaults or {},
            direction=direction,
            tolerance_sec=tolerance_sec,
        )

    state_side = state.select(
        *[F.col(k) for k in keys],
        F.col(state_ts).cast("long").alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(state_ts).cast("long").alias("anchor"),
            *[F.col(c).alias(c) for c in payload_cols],
        ).alias("_st"),
        *[F.col(c).alias(f"_tb_{c}") for c in tiebreak_cols],
    )
    probe_side = probes.select(
        *[F.col(k) for k in keys],
        F.col(probe_ts).cast("long").alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_p_{c}") for c in probe_cols],
    )
    # each side's missing columns (_p_* on state rows; _st, _tb_* on probe
    # rows) come in as typed NULLs
    unioned = state_side.unionByName(probe_side, allowMissingColumns=True)

    ts_order = F.col("_ts").desc() if direction == "forward" else F.col("_ts").asc()
    order = [ts_order, F.col("_side").asc()] + [
        F.col(f"_tb_{c}").asc_nulls_first() for c in tiebreak_cols
    ]
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    filled = (
        unioned.withColumn("_fill", F.last(F.col("_st"), ignorenulls=True).over(w))
        .where(F.col("_side") == 1)
    )
    if tolerance_sec is not None:
        # distance is non-negative by construction in either direction
        dist = (
            F.col("_fill.anchor") - F.col("_ts")
            if direction == "forward"
            else F.col("_ts") - F.col("_fill.anchor")
        )
        filled = filled.withColumn(
            "_fill", F.when(dist <= F.lit(tolerance_sec), F.col("_fill"))
        )

    defaults = defaults or {}
    out_cols: list[Column] = [F.col(f"_p_{c}").alias(c) for c in probe_cols]
    out_cols.append(F.col("_fill.anchor").alias(anchor))
    for c in payload_cols:
        filledc = F.col(f"_fill.{c}")
        if c in defaults:
            filledc = F.when(F.col("_fill").isNull(), defaults[c]).otherwise(filledc)
        out_cols.append(filledc.alias(f"{prefix}{c}"))
    out_cols.append((F.col("_ts") - F.col("_fill.anchor")).cast("long").alias(f"{prefix}age_sec"))
    out_cols.append(F.col("_fill").isNull().alias("fallback_used"))
    return filled.select(*out_cols)


def _asof_join_thin(
    state: DataFrame,
    probes: DataFrame,
    *,
    keys: list[str],
    state_ts: str,
    probe_ts: str,
    payload_cols: list[str],
    tiebreak_cols: list[str],
    prefix: str,
    defaults: dict[str, Column],
    direction: str = "backward",
    tolerance_sec: int | None = None,
) -> DataFrame:
    """Thin-anchor window + wide payload join-back (see asof_join docstring)."""
    anchor = f"{prefix}event_epoch"
    probe_cols = list(probes.columns)

    state_thin = state.select(
        *[F.col(k) for k in keys],
        F.col(state_ts).cast("long").alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(state_ts).cast("long").alias("anchor"),
            *[F.col(c).alias(f"tb_{c}") for c in tiebreak_cols],
        ).alias("_st"),
    )
    probe_side = probes.select(
        *[F.col(k) for k in keys],
        F.col(probe_ts).cast("long").alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_p_{c}") for c in probe_cols],
    )
    unioned = state_thin.unionByName(probe_side, allowMissingColumns=True)

    ts_order = F.col("_ts").desc() if direction == "forward" else F.col("_ts").asc()
    order = [ts_order, F.col("_side").asc()] + [
        F.col(f"_st.tb_{c}").asc_nulls_first() for c in tiebreak_cols
    ]
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # probe rows carry their own key values in _p_*, so the plain key columns
    # can be dropped here (keys must be a subset of the probe columns)
    filled = unioned.withColumn(
        "_fill", F.last(F.col("_st"), ignorenulls=True).over(w)
    ).where(F.col("_side") == 1)
    if tolerance_sec is not None:
        dist = (
            F.col("_fill.anchor") - F.col("_ts")
            if direction == "forward"
            else F.col("_ts") - F.col("_fill.anchor")
        )
        filled = filled.withColumn(
            "_fill", F.when(dist <= F.lit(tolerance_sec), F.col("_fill"))
        )
    # keep the UNION's own key columns (identical to _p_<key> on probe rows
    # by construction) instead of re-aliasing the _p_ copies: the fill
    # window's HashPartitioning(keys) then survives this projection, so the
    # payload join below needs NO new exchange on the matched stream.
    matched = (
        filled
        .select(
            F.col("_ts"),
            F.col("_fill.anchor").alias(anchor),
            *[F.col(f"_fill.tb_{c}").alias(f"_mtb_{c}") for c in tiebreak_cols],
            *[F.col(k) for k in keys],
            *[
                F.col(f"_p_{c}").alias(c)
                for c in probe_cols
                if c not in keys
            ],
        )
    )

    payload = state.select(
        *[F.col(k).alias(f"_s_{k}") for k in keys],
        F.col(state_ts).cast("long").alias("_s_ts"),
        *[F.col(c).alias(f"_s_tb_{c}") for c in tiebreak_cols],
        *[F.col(c).alias(f"{prefix}{c}") for c in payload_cols],
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"_s_{k}"))
    # anchor/tiebreak equality is expressed as a degenerate RANGE predicate
    # (x BETWEEN y AND y) so Catalyst does NOT extract it into the equi-join
    # keys: the join then hash-partitions on `keys` alone, which BOTH sides
    # already satisfy (the fill window upstream of `matched` and the
    # feature window upstream of `payload` are each partitioned on `keys`,
    # and projections here are alias-preserving) — removing two full
    # exchanges from every as-of plan (guide §2.4: reuse one partitioning
    # across window + join).  Within a key group the hash join iterates the
    # group's state rows and filters on the anchor — bounded by rows-per-key,
    # the same bound the window sort already relies on.  Semantics are
    # unchanged: x BETWEEN y AND y <=> x = y, NULL-rejecting on both sides
    # exactly like EqualTo.
    cond = cond & F.col(anchor).between(F.col("_s_ts"), F.col("_s_ts"))
    for c in tiebreak_cols:
        cond = cond & F.col(f"_mtb_{c}").between(
            F.col(f"_s_tb_{c}"), F.col(f"_s_tb_{c}")
        )
    # SHUFFLE_HASH: build a hash table on the (small) state payload side
    # instead of sort-merge — SMJ would re-sort the big matched stream that
    # the window just produced.  AQE still upgrades this to broadcast when
    # the payload side is tiny.
    joined = matched.join(payload.hint("SHUFFLE_HASH"), cond, "left")

    out_cols: list[Column] = [F.col(c) for c in probe_cols]
    out_cols.append(F.col(anchor))
    for c in payload_cols:
        filledc = F.col(f"{prefix}{c}")
        if c in defaults:
            filledc = F.when(F.col(anchor).isNull(), defaults[c]).otherwise(filledc)
        out_cols.append(filledc.alias(f"{prefix}{c}"))
    out_cols.append((F.col("_ts") - F.col(anchor)).cast("long").alias(f"{prefix}age_sec"))
    out_cols.append(F.col(anchor).isNull().alias("fallback_used"))
    return joined.select(*out_cols)
