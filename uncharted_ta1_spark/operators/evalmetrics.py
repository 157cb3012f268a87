"""Buffered-match evaluation metrics (precision / recall / F1).

Reference analog (SURVEY.md §2.4 A9): point-extraction scoring matches
predicted points to ground truth within a distance buffer and reports
per-class precision/recall/F1 (``eval/18month_eval/fe_metrics_utils.py:
18-120``, ``points_extraction_calc_metrics.py:120-145``).

Here the buffer is temporal: a prediction matches iff ANY truth lies within
±buffer (set semantics — the reference's overlap-or-nearest rule reduced to
its deterministic core).  Implemented as two semi-join-shaped aggregations;
the pair join is equi-keyed on the entity so it never goes cartesian.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from uncharted_ta1_spark.operators.binning import bucket_offset, range_buckets


GREEDY_SCHEMA = "gkey string, n_matched long"


def greedy_buffered_f1(
    events: DataFrame,
    *,
    keys: Sequence[str] = ("user_id",),
    ts: str = "ts_us",
    id_col: str = "event_id",
    pred_filter: Column,
    truth_filter: Column,
    buffer: int = 3_600_000_000,
) -> DataFrame:
    """The reference's FULL matching semantics (fe_metrics_utils.py:18-120):
    candidate (truth, pred) pairs within the buffer are consumed greedily by
    ascending distance, each truth and each pred matched AT MOST ONCE, then
    per-group precision/recall/F1 over the one-to-one match count.  (The
    plain :func:`buffered_f1` is the any-within-buffer relaxation.)

    Determinism: distances are exact integers and ties break on
    (dist, truth_id, pred_id), so the greedy order is total.

    Scale split: the candidate-pair JOIN runs JVM-side (equi-keyed, buffer
    predicate); only the inherently sequential greedy consumption runs in
    Python — grouped under coarse hash buckets (groupfit.py pattern), one
    Arrow batch per bucket, looping over CANDIDATE PAIRS (buffer-bounded),
    never over raw rows.
    """
    import pandas as pd

    from uncharted_ta1_spark.functions.portable import md5_i64

    keys = list(keys)
    preds = events.where(pred_filter).select(
        *keys, F.col(id_col).alias("_pid"), F.col(ts).alias("_pts")
    )
    truths = events.where(truth_filter).select(
        *[F.col(k).alias(f"_t_{k}") for k in keys],
        F.col(id_col).alias("_tid"),
        F.col(ts).alias("_tts"),
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"_t_{k}"))
    pairs = (
        preds.join(truths, cond & (F.abs(F.col("_pts") - F.col("_tts")) <= buffer))
        .select(
            F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys]).alias(
                "gkey"
            ),
            "_tid",
            "_pid",
            F.abs(F.col("_pts") - F.col("_tts")).cast("long").alias("_dist"),
        )
    )
    n_buckets = 2 * events.sparkSession.sparkContext.defaultParallelism
    bucketed = pairs.withColumn(
        "_fb", F.pmod(md5_i64(F.col("gkey")), F.lit(n_buckets)).cast("int")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        out_keys, out_n = [], []
        srt = pdf.sort_values(["gkey", "_dist", "_tid", "_pid"], kind="mergesort")
        for gkey, grp in srt.groupby("gkey", sort=False):
            used_t, used_p, n = set(), set(), 0
            for tid, pid in zip(grp["_tid"], grp["_pid"]):
                if tid in used_t or pid in used_p:
                    continue
                used_t.add(tid)
                used_p.add(pid)
                n += 1
            out_keys.append(gkey)
            out_n.append(n)
        return pd.DataFrame({"gkey": out_keys, "n_matched": out_n})

    matched = bucketed.groupBy("_fb").applyInPandas(greedy, GREEDY_SCHEMA)

    gk = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    n_pred = (
        preds.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    )
    n_truth = truths.groupBy(
        *[F.col(f"_t_{k}").alias(k) for k in keys]
    ).agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    base = events.select(*keys).distinct()
    out = (
        base.join(n_pred, keys, "left")
        .join(n_truth, keys, "left")
        .join(matched, gk == F.col("gkey"), "left")
        .fillna(0, subset=["n_pred", "n_truth", "n_matched"])
    )
    precision = F.when(F.col("n_pred") > 0, F.col("n_matched") / F.col("n_pred"))
    recall = F.when(F.col("n_truth") > 0, F.col("n_matched") / F.col("n_truth"))
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & ((precision + recall) > 0),
        2 * precision * recall / (precision + recall),
    )
    return out.select(
        *keys,
        "n_pred",
        "n_truth",
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def buffered_f1(
    events: DataFrame,
    *,
    keys: Sequence[str] = ("user_id",),
    ts: str = "ts_us",
    id_col: str = "event_id",
    pred_filter: Column,
    truth_filter: Column,
    buffer: int = 3_600_000_000,
) -> DataFrame:
    """Per key group: n_pred, n_truth, matched counts, precision/recall/F1.

    Groups with zero predictions (or truths) get NULL precision (recall);
    F1 is NULL unless both are defined and positive-summed.
    """
    keys = list(keys)
    preds = events.where(pred_filter).select(
        *keys, F.col(id_col).alias("_pid"), F.col(ts).alias("_pts")
    )
    truths = events.where(truth_filter).select(
        *[F.col(k).alias(f"_t_{k}") for k in keys],
        F.col(id_col).alias("_tid"),
        F.col(ts).alias("_tts"),
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"_t_{k}"))
    within = F.abs(F.col("_pts") - F.col("_tts")) <= buffer

    pairs = preds.join(truths, cond & within)
    matched_preds = pairs.groupBy(*keys).agg(
        F.countDistinct("_pid").alias("matched_pred")
    )
    matched_truths = pairs.groupBy(*keys).agg(
        F.countDistinct("_tid").alias("matched_truth")
    )
    n_pred = preds.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    n_truth = (
        truths.groupBy(*[F.col(f"_t_{k}").alias(k) for k in keys])
        .agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    )
    base = events.select(*keys).distinct()
    out = (
        base.join(n_pred, keys, "left")
        .join(n_truth, keys, "left")
        .join(matched_preds, keys, "left")
        .join(matched_truths, keys, "left")
        .fillna(0, subset=["n_pred", "n_truth", "matched_pred", "matched_truth"])
    )
    precision = F.when(
        F.col("n_pred") > 0, F.col("matched_pred") / F.col("n_pred")
    )
    recall = F.when(F.col("n_truth") > 0, F.col("matched_truth") / F.col("n_truth"))
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & ((precision + recall) > 0),
        2 * precision * recall / (precision + recall),
    )
    return out.select(
        *keys,
        "n_pred",
        "n_truth",
        F.col("matched_pred").cast("long").alias("matched_pred"),
        F.col("matched_truth").cast("long").alias("matched_truth"),
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def grouped_auc(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    label_col: str,
    score_col: str,
    n_buckets: int = 100,
) -> DataFrame:
    """Exact per-group ROC-AUC from a BIGINT score column — rank-based
    (Mann-Whitney U) with the standard tie correction, as pure integer
    algebra until one final division.

    AUC = [ sum_s pos_s * neg_below(s) + 0.5 * sum_s pos_s * neg_s ]
          / (n_pos * n_neg)
    over distinct scores s, so the corpus-sized work is ONE combinable
    groupBy to the (group, score) frame.  ``neg_below`` needs an ordered
    prefix sum over distinct scores — 10^8-10^9 rows for a micro-quantized
    web-scale score, the classic single-task sort trap — so it runs the
    binning.py decomposition: per-group GK range boundaries bucket the
    distinct scores (equal scores can never straddle an edge), per-bucket
    negative totals give broadcast offsets via a droplet-sized window, and
    the within-bucket prefix window is bounded by distinct/n_buckets.

    Everything up to ``u2 = 2*U`` is exact BIGINT (tie term pos*neg stays
    integral under the doubling), so the result hash-matches the naive
    single-window oracle bit for bit.  Groups with no positives or no
    negatives report NULL auc (undefined), never a division error.

    Reference analog: the reference scores extractions against ground truth
    with threshold sweeps (``eval/18month_eval/fe_metrics_utils.py:18-120``);
    AUC is that sweep integrated, the standard feature-screening metric a
    training-data pipeline applies to candidate quality signals.
    """
    groups = list(group_cols)
    s = df.groupBy(*groups, score_col).agg(
        F.sum(F.col(label_col).cast("long")).cast("long").alias("p"),
        F.count(F.lit(1)).cast("long").alias("t"),
    ).withColumn("ng", F.col("t") - F.col("p"))

    bucketed = range_buckets(s, keys=groups, col=score_col, n_buckets=n_buckets)
    offsets = (
        bucketed.groupBy(*groups, "_bkt")
        .agg(F.sum("ng").cast("long").alias("_bng"))
        .select(*groups, "_bkt", bucket_offset("_bng", keys=groups).alias("_off"))
    )
    w_in = (
        Window.partitionBy(*groups, "_bkt")
        .orderBy(F.col(score_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = bucketed.join(F.broadcast(offsets), groups + ["_bkt"]).withColumn(
        "negbelow",
        (F.col("_off") + F.coalesce(F.sum("ng").over(w_in), F.lit(0)))
        .cast("long"),
    )
    agg = c.groupBy(*groups).agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("ng").cast("long").alias("n_neg"),
        F.sum(
            F.lit(2) * F.col("p") * F.col("negbelow")
            + F.col("p") * F.col("ng")
        ).cast("long").alias("u2"),
    )
    defined = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return agg.select(
        *groups,
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            defined,
            F.col("u2").cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double"),
        ).alias("auc"),
    )


def grouped_average_precision(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    label_col: str,
    score_col: str,
    n_buckets: int = 100,
) -> DataFrame:
    """Exact per-group average precision (area under the step PR curve,
    the mAP building block) from a BIGINT score column.

    AP = sum over distinct thresholds v (descending) of
    ``(p_v / n_pos) * (tp_v / cum_t_v)`` where ``p_v`` is the positives AT
    score v, ``tp_v`` the positives at-or-above v, and ``cum_t_v`` the rows
    at-or-above v — the step (non-interpolated) definition, ties resolved
    at threshold granularity.

    Scale shape mirrors :func:`grouped_auc`: one combinable groupBy to the
    (group, score) frame, then BOTH ascending exclusive prefixes (positives
    below, rows below) in one GK-bucketed pass — at-or-above counts follow
    by complement, so no descending sort exists anywhere.  Each PR term is
    quantized to an exact 1e-12 integer grid BEFORE the sum (floor of one
    IEEE division — order-free BIGINT addition, the session_sum convention),
    so the result hash-matches the naive single-window oracle bit for bit.
    Groups with no positives report NULL (AP undefined).

    Reference analog: the reference's detection eval integrates precision
    over recall sweeps (``tasks/segmentation/ditod/table_evaluation/
    evaluate.py:360-400``); AP is exactly that integral, the standard
    ranked-retrieval quality score.
    """
    groups = list(group_cols)
    s = df.groupBy(*groups, score_col).agg(
        F.sum(F.col(label_col).cast("long")).cast("long").alias("p"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )

    bucketed = range_buckets(s, keys=groups, col=score_col, n_buckets=n_buckets)
    offsets = (
        bucketed.groupBy(*groups, "_bkt")
        .agg(
            F.sum("p").cast("long").alias("_bp"),
            F.sum("t").cast("long").alias("_bt"),
        )
        .select(
            *groups,
            "_bkt",
            bucket_offset("_bp", keys=groups).alias("_offp"),
            bucket_offset("_bt", keys=groups).alias("_offt"),
        )
    )
    w_in = (
        Window.partitionBy(*groups, "_bkt")
        .orderBy(F.col(score_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # group totals via a combinable aggregate broadcast back — NEVER a
    # whole-partition window over the distinct-score table (that is the
    # single-task trap this module exists to avoid)
    gtot = s.groupBy(*groups).agg(
        F.sum("p").cast("long").alias("_npos"),
        F.sum("t").cast("long").alias("_nt"),
    )
    c = (
        bucketed.join(F.broadcast(offsets), groups + ["_bkt"])
        .join(F.broadcast(gtot), groups)
        .withColumn(
            "_posbelow",
            (F.col("_offp") + F.coalesce(F.sum("p").over(w_in), F.lit(0)))
            .cast("long"),
        )
        .withColumn(
            "_tbelow",
            (F.col("_offt") + F.coalesce(F.sum("t").over(w_in), F.lit(0)))
            .cast("long"),
        )
    )
    # at-or-above counts by complement; 1e-12-grid exact term
    tp = F.col("_npos") - F.col("_posbelow")
    cum_t = F.col("_nt") - F.col("_tbelow")
    term_e12 = F.when(
        (F.col("p") > 0) & (F.col("_npos") > 0),
        F.floor(
            (F.col("p") * tp).cast("double")
            / (F.col("_npos") * cum_t).cast("double")
            * F.lit(1e12)
        ),
    ).otherwise(F.lit(0))
    agg = c.groupBy(*groups).agg(
        F.max("_npos").cast("long").alias("n_pos"),
        F.max("_nt").cast("long").alias("n_total"),
        F.sum(term_e12).cast("long").alias("ap_e12"),
    )
    return agg.select(
        *groups,
        "n_pos",
        "n_total",
        "ap_e12",
        F.when(
            F.col("n_pos") > 0,
            F.col("ap_e12").cast("double") / F.lit(1e12),
        ).alias("ap"),
    )
