"""Exact two-sample Kolmogorov-Smirnov distance, scale-safely.

Reference analog: the reference decides whether an extraction run has gone
off the rails by comparing score/error *distributions* between runs and
against ground truth (``tasks/segmentation/ditod/table_evaluation/
evaluate.py:360-400`` sweeps the IOU threshold axis and compares the
resulting precision curves; ``tasks/geo_referencing/georeference.py:431``
scores query-point error populations).  The engine-side generalization is
the classic two-sample KS test between a reference and a candidate
distribution — the sharpest nonparametric drift gate a 100-TB curation
pipeline can run (PSI, already in :mod:`splits`, needs binning choices;
KS does not).

The textbook formulation — sort the union, walk the merged CDFs — is a
single global sort.  This module computes the IDENTICAL statistic with
bounded per-task work, applying :mod:`binning`'s GK range buckets and
exclusive offsets to *prefix sums*:

1. One combinable groupBy collapses the corpus to per-distinct-value
   class counts (``c1``, ``c2``) — the only corpus-sized shuffle.
2. GK (``percentile_approx``) boundaries range-bucket the distinct-value
   domain; sketch error only skews bucket sizes, never the result.
3. Per-bucket running sums (window partitioned by bucket) plus exclusive
   bucket-total offsets (a <=``n_buckets``-row window, broadcast back)
   yield the exact global CDF counts at every distinct value.
4. ``D = max |cdf1*n2 - cdf2*n1| / (n1*n2)`` — kept in exact BIGINT
   arithmetic until the final division (valid while ``n1*n2 < 2^63``,
   i.e. ~3e9 rows per side; beyond that swap the scaled gap to
   DECIMAL(38,0) — the plan shape is unchanged).

Max task ~ distinct_values / n_buckets rows: survives a vocabulary-sized
value domain where ``Window.orderBy(value)`` would funnel one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uncharted_ta1_spark.operators.binning import bucket_offset, range_buckets


def ks_two_sample(
    df: DataFrame,
    *,
    value_col: str,
    in_sample_1: Column,
    in_sample_2: Column,
    n_buckets: int = 100,
) -> DataFrame:
    """One-row DataFrame: (n1, n2, max_gap_scaled, ks_stat).

    ``ks_stat`` is the exact two-sample KS distance between the
    ``value_col`` distributions of the rows selected by the two predicate
    columns; ``max_gap_scaled`` is the integer-exact numerator
    ``max |cdf1*n2 - cdf2*n1|``.
    """
    v = F.col(value_col)
    # 1. corpus -> per-distinct-value class counts (one hash shuffle,
    #    map-side combinable)
    per_v = (
        df.where(in_sample_1 | in_sample_2)
        .groupBy(v.alias("_v"))
        .agg(
            F.sum(in_sample_1.cast("long")).cast("long").alias("_c1"),
            F.sum(in_sample_2.cast("long")).cast("long").alias("_c2"),
        )
    )

    # 2. GK range buckets over the distinct-value domain (they only steer
    #    load balance)
    bucketed = range_buckets(per_v, keys=(), col="_v", n_buckets=n_buckets)

    # 3. exclusive per-bucket offsets from bucket totals (droplet-sized:
    #    <= n_buckets rows, so the unpartitioned window is bounded by
    #    construction) + per-bucket running sums = exact global CDFs
    totals = bucketed.groupBy("_bkt").agg(
        F.sum("_c1").alias("_t1"), F.sum("_c2").alias("_t2")
    )
    offs = totals.select(
        "_bkt",
        bucket_offset("_t1", keys=()).alias("_o1"),
        bucket_offset("_t2", keys=()).alias("_o2"),
    )
    win = (
        Window.partitionBy("_bkt")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = bucketed.join(F.broadcast(offs), "_bkt").select(
        (F.sum("_c1").over(win) + F.col("_o1")).alias("_f1"),
        (F.sum("_c2").over(win) + F.col("_o2")).alias("_f2"),
    )

    # 4. exact integer gap, one final all-reduce
    ns = per_v.agg(
        F.sum("_c1").cast("long").alias("n1"),
        F.sum("_c2").cast("long").alias("n2"),
    )
    return (
        cdf.join(F.broadcast(ns))
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max(
                F.abs(F.col("_f1") * F.col("n2") - F.col("_f2") * F.col("n1"))
            )
            .cast("long")
            .alias("max_gap_scaled"),
        )
        .select(
            "n1",
            "n2",
            "max_gap_scaled",
            F.round(
                F.col("max_gap_scaled").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                9,
            ).alias("ks_stat"),
        )
    )
