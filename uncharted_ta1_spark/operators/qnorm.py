"""Quantile normalization: map values onto a reference distribution.

Reference analog: the reference constantly has to make scores from
different extractors comparable before fusing them — confidence products
assume a shared scale (``tasks/geo_referencing/coordinates_extractor.py``
confidence boosts, the gamma/LUT pixel normalization of
``tasks/common/image_io.py``).  Quantile normalization is the exact
form of that alignment: replace each value by the reference
distribution's value at the same empirical quantile — afterwards the
transformed sample has (up to ties) the reference's distribution.  It is
the bioinformatics-standard cross-batch normalizer and the exact version
of what `fit_transform_scale` approximates with moments.

Definition (deterministic, tie-broken): a row with exact rank r among n
in its group maps to the reference's k-th order statistic with
``k = ceil(r * n_ref / n)`` (so r=n hits the reference max, r=1 lands in
the bottom 1/n_ref tail, and the map is monotone).

Scale shape: BOTH rank passes are :func:`binning.bucketed_rank` —
per-bucket ``row_number`` + broadcast exclusive offsets, never a
whole-group sort.  The join back is an integer equi join on the
order-statistic index; the reference side has one row per (group, k),
so the join is hash-equi and skew-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uncharted_ta1_spark.operators.binning import bucketed_rank


def quantile_normalize(
    df: DataFrame,
    ref: DataFrame,
    *,
    keys: Sequence[str],
    col: str,
    tiebreak: Sequence[str],
    ref_tiebreak: Sequence[str],
    n_buckets: int = 100,
    out_col: str = "q_value",
) -> DataFrame:
    """Append ``out_col``: the reference group's order statistic at each
    row's empirical quantile (``k = ceil(rank * n_ref / n)``)."""
    keys = list(keys)
    ranked = bucketed_rank(
        df, keys=keys, col=col, order_tiebreak=tiebreak, n_buckets=n_buckets,
        descending=False, out_rank="_r", out_n="_n",
    )
    ref_ranked = bucketed_rank(
        ref, keys=keys, col=col, order_tiebreak=ref_tiebreak,
        n_buckets=n_buckets, descending=False, out_rank="_k",
    ).select(*keys, "_k", F.col(col).alias(out_col))

    ref_sizes = ref.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_nref")
    )
    with_k = (
        ranked.join(F.broadcast(ref_sizes), keys)
        # ceil(r * nref / n) in EXACT integer math — never a double
        # division (r*nref can exceed double's 2^53 integer range):
        # (a + n - 1) DIV n == ceil(a / n) for positive a, n
        .withColumn(
            "_k", F.expr("(_r * _nref + _n - 1) DIV _n").cast("long")
        )
    )
    return with_k.join(ref_ranked, [*keys, "_k"]).drop(
        "_n", "_nref", "_k"
    )
