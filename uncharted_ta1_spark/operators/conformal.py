"""Split-conformal prediction intervals — distribution-free, leak-free
uncertainty for point-in-time features.

Reference analog: the reference attaches ad-hoc confidence scalars to its
extractions and thresholds them (``tasks/geo_referencing/
coordinates_extractor.py`` confidence assignment;
``outlier_filter.py:34-165`` residual-based trust gates).  Split conformal
(Vovk et al. 2005; Lei et al. 2018 — public method) replaces the ad-hoc
scalar with a finite-sample coverage GUARANTEE: fit on a train period,
take the ceil((n+1)(1-alpha))-th smallest absolute residual on a disjoint
calibration period as the interval half-width, and the test-period
coverage is >= 1-alpha regardless of the model or distribution.  The
three periods are disjoint in EVENT TIME (train < calibration < test), so
the construction obeys the north rule's zero-temporal-leakage contract.

Scale + exactness design:

* the time split is integer arithmetic on a broadcast 1-row (min,max)
  epoch aggregate — no sort;
* the per-group fit is the exact-integer normal equations (BIGINT sums,
  ONE shared double tree — same convention as operators/groupfit's dual
  derivation test), a combinable groupBy;
* residuals quantize to exact micro-units, so the calibration order
  statistic and the test-side coverage comparison are INTEGER operations
  (engine-exact);
* the calibration k-th order statistic is GK-BUCKETED (the
  operators/binning.py primitives): per-group ``percentile_approx``
  boundaries split each group's residuals into ~100 monotone range
  buckets, cumulative bucket counts (a groups x buckets droplet table)
  locate the ONE bucket containing rank k, and ``row_number`` runs only
  inside that bucket — never a whole-group sort.  Sketch error moves
  bucket sizes, never the selected value, so the result is bit-identical
  to the global-sort order statistic with max task ~ n_calib_group/100.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uncharted_ta1_spark.operators.binning import bucket_offset, range_buckets


def split_conformal_coverage(
    seq: DataFrame,
    *,
    group_col: str = "source",
    x_col: str = "seq_no",
    y_col: str = "n_tok",
    t_col: str = "event_epoch",
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Per-group split-conformal intervals for y ~ a + b*x with measured
    test coverage.

    Time split by integer span arithmetic: train = first 3/5 of the epoch
    span, calibration = next 1/5, test = the rest.  Output one row per
    group that has calibration data: fit params, ``q_hat_micro`` (the
    conformal half-width in 1e-6 units, BIGINT), test counts and raw
    coverage (``n_covered / n_test``; NULL when the group has no test
    rows).  Guarantee: E[coverage] >= 1 - alpha (= 1 - alpha_num/alpha_den).
    """
    bounds = seq.agg(
        F.min(t_col).cast("long").alias("_t_lo"),
        F.max(t_col).cast("long").alias("_t_hi"),
    )
    base = seq.join(F.broadcast(bounds)).select(
        F.col(group_col).alias("_g"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
        F.col(t_col).cast("long").alias("_t"),
        (F.col("_t_lo") + F.expr("(_t_hi - _t_lo) * 3 DIV 5")).alias("_c1"),
        (F.col("_t_lo") + F.expr("(_t_hi - _t_lo) * 4 DIV 5")).alias("_c2"),
    )
    train = base.where(F.col("_t") < F.col("_c1"))
    calib = base.where((F.col("_t") >= F.col("_c1")) & (F.col("_t") < F.col("_c2")))
    test = base.where(F.col("_t") >= F.col("_c2"))

    fit = train.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
    )
    den = F.col("n_train") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = F.when(
        den != 0,
        (
            F.col("n_train") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
        ).cast("double")
        / den.cast("double"),
    )
    fit = fit.select(
        "_g",
        "n_train",
        slope.alias("slope"),
        F.when(
            den != 0,
            (
                F.col("_sy").cast("double")
                - (
                    (
                        F.col("n_train") * F.col("_sxy")
                        - F.col("_sx") * F.col("_sy")
                    ).cast("double")
                    / den.cast("double")
                )
                * F.col("_sx").cast("double")
            )
            / F.col("n_train").cast("double"),
        ).alias("intercept"),
    ).where(F.col("slope").isNotNull())
    # per-group fit is a droplet (one row per group) consumed by the
    # calibration, test and output legs; materialize it once instead of
    # re-running the train aggregation under each consumer
    fit = fit.localCheckpoint()

    res_micro = F.expr(
        "CAST(floor(abs(CAST(_y AS DOUBLE) "
        "- (intercept + slope * CAST(_x AS DOUBLE))) * 1e6) AS BIGINT)"
    )
    # the calibration residual table feeds three consumers (count, GK
    # boundaries, bucketed rank) — one materialization instead of three
    # corpus-derivation re-runs (the "write the index once" pattern)
    # (explicit broadcast: a checkpointed frame loses its size statistics,
    # and the fit table is a droplet — one row per group — by construction)
    cal_r = (
        calib.join(F.broadcast(fit), "_g").select("_g", res_micro.alias("_r"))
        .localCheckpoint()
    )
    n_cal = cal_r.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_cal")
    )
    # k = ceil((n_cal + 1) * (1 - alpha)); capped at n_cal (cap flagged)
    k_expr = (
        f"((n_cal + 1) * {alpha_den - alpha_num} + {alpha_den - 1}) "
        f"DIV {alpha_den}"
    )
    ks = n_cal.select(
        "_g",
        "n_cal",
        F.least(F.expr(k_expr), F.col("n_cal")).cast("long").alias("_k"),
        (F.expr(k_expr) > F.col("n_cal")).alias("k_capped"),
    )
    # GK-bucketed k-th order statistic (binning.py primitives): locate the
    # one range bucket holding rank k, rank only inside it.
    bucketed = range_buckets(cal_r, keys=["_g"], col="_r", n_buckets=100)
    # droplet table: groups x <=100 buckets
    offsets = (
        bucketed.groupBy("_g", "_bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("_bn"))
        .select(
            "_g",
            "_bkt",
            bucket_offset("_bn", keys=["_g"]).alias("_off"),
            F.col("_bn"),
        )
    )
    target = (
        offsets.join(ks, "_g")
        .where(
            (F.col("_k") > F.col("_off"))
            & (F.col("_k") <= F.col("_off") + F.col("_bn"))
        )
        .select("_g", "_bkt", "_off", "_k", "n_cal", "k_capped")
    )
    wr = Window.partitionBy("_g", "_bkt").orderBy(F.col("_r").asc())
    q_hat = (
        bucketed.join(F.broadcast(target), ["_g", "_bkt"])
        .withColumn("_rk", F.row_number().over(wr) + F.col("_off"))
        .where(F.col("_rk") == F.col("_k"))
        .select("_g", "n_cal", "k_capped", F.col("_r").alias("q_hat_micro"))
    )

    tst = (
        test.join(F.broadcast(fit), "_g")
        .select("_g", res_micro.alias("_r"))
        .join(F.broadcast(q_hat.select("_g", "q_hat_micro")), "_g")
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum((F.col("_r") <= F.col("q_hat_micro")).cast("long"))
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        fit.join(q_hat, "_g")
        .join(tst, "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            "n_train",
            "slope",
            "intercept",
            "n_cal",
            "k_capped",
            "q_hat_micro",
            F.coalesce(F.col("n_test"), F.lit(0)).cast("long").alias("n_test"),
            F.coalesce(F.col("n_covered"), F.lit(0))
            .cast("long")
            .alias("n_covered"),
            F.when(
                F.coalesce(F.col("n_test"), F.lit(0)) > 0,
                F.col("n_covered").cast("double")
                / F.col("n_test").cast("double"),
            ).alias("coverage"),
        )
    )
