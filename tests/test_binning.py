"""The GK range-bucket plans (operators/binning.py) must equal their
single-sort windows bit-for-bit: ntile, rank in both directions, and the
running sum."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uncharted_ta1_spark.operators.binning import (
    bucketed_cumsum,
    bucketed_rank,
    ntile_equal_freq,
)


def _check(spark, rows, k, n_buckets=7, keys=("cls",)):
    keys = list(keys)
    df = spark.createDataFrame(rows, "rid long, cls string, v double")
    asc = Window.partitionBy(*keys).orderBy(F.col("v").asc(), F.col("rid").asc())
    desc = Window.partitionBy(*keys).orderBy(F.col("v").desc(), F.col("rid").asc())
    want = {
        r.rid: r
        for r in df.select(
            "rid",
            F.ntile(k).over(asc).cast("int").alias("decile"),
            F.row_number().over(asc).alias("rank_asc"),
            F.row_number().over(desc).alias("rank_desc"),
            F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("n"),
            F.sum("v").over(asc.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("cum"),
        ).collect()
    }
    got = {
        r.rid: r.decile
        for r in ntile_equal_freq(
            df, keys=keys, col="v", order_tiebreak=["rid"], k=k,
            n_buckets=n_buckets,
        ).collect()
    }
    assert got == {rid: r.decile for rid, r in want.items()}
    for descending, field in ((False, "rank_asc"), (True, "rank_desc")):
        got = {
            r.rid: (r._rank, r._n_grp)
            for r in bucketed_rank(
                df, keys=keys, col="v", order_tiebreak=["rid"],
                n_buckets=n_buckets, descending=descending,
            ).collect()
        }
        assert got == {rid: (r[field], r.n) for rid, r in want.items()}, field
    got = {
        r.rid: r._cum
        for r in bucketed_cumsum(
            df, keys=keys, order_col="v", val_col="v", order_tiebreak=["rid"],
            n_buckets=n_buckets,
        ).collect()
    }
    assert got == {rid: r.cum for rid, r in want.items()}


def test_matches_ntile_uneven_sizes(spark):
    rng = random.Random(7)
    rows = [(i, "c" + str(i % 3), float(rng.randint(0, 40))) for i in range(157)]
    _check(spark, rows, k=10)


def test_matches_ntile_small_groups_n_below_k(spark):
    # n < k: ntile hands each row its own tile — the q=0 branch
    rows = [(i, "only", float(i)) for i in range(7)]
    _check(spark, rows, k=10)


def test_matches_ntile_heavy_ties_across_bucket_edges(spark):
    # many duplicate values: equal values must never straddle a range
    # bucket, and the rid tie-break must order them exactly like ntile
    rng = random.Random(11)
    rows = [(i, "c", float(rng.randint(0, 3))) for i in range(200)]
    _check(spark, rows, k=10, n_buckets=4)


def test_matches_ntile_exact_multiples(spark):
    rows = [(i, "c" + str(i % 2), float(i)) for i in range(200)]
    _check(spark, rows, k=10)


def test_matches_windows_single_global_group(spark):
    # keys=() buckets the whole frame as one group (kstest, vocab_index)
    rng = random.Random(13)
    rows = [(i, "c" + str(i % 3), float(rng.randint(0, 25))) for i in range(120)]
    _check(spark, rows, k=7, keys=())
