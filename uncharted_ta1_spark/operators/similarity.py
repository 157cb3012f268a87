"""Similarity search over embedding columns (array<float>).

Two paths:
  * cosine_topk — brute-force exact top-k: broadcast the (small) query set
    against the corpus; dot products via ``zip_with``+``aggregate`` higher-
    order functions (JVM-side, whole-stage codegen — no Python).  This is the
    baseline and the verifier.
  * lsh_buckets / ann_lsh_topk — the scale path: 8 signed random hyperplanes
    (integer weights derived portably from md5, embeddings fixed-point-scaled
    so the bucket assignment is exact integer math → deterministic across
    engines), candidates only within a bucket.

Reference analog: nearest-neighbor matching via STRtree index + min-distance
pick (``tasks/point_extraction/point_orientation_extractor.py:121-180``, J4)
— the classic kNN-in-SQL: bucket pre-join + row_number over distance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uncharted_ta1_spark.functions.portable import md5_i64

N_PLANES = 8
FIXED_POINT = 1_000_000  # embedding scale for exact integer LSH math


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    e = _as_double(F.col(col))
    return emb.withColumn("_emb_d", e).withColumn("_norm", F.sqrt(_dot(e, e)))


def cosine_topk(
    emb: DataFrame,
    *,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of every corpus vector for each query vector.

    Queries are broadcast (they're a tiny slice of the corpus); the corpus
    streams through one narrow stage; per-query ranking is a window over the
    query key.  Ordering is deterministic: (sim desc, vec_id asc).
    """
    base = with_norm(emb)
    q = base.where(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col("_emb_d").alias("_q_emb"),
        F.col("_norm").alias("_q_norm"),
    )
    c = base.select(F.col(id_col).alias("vid"), "_emb_d", "_norm")
    sims = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            (_dot(F.col("_q_emb"), F.col("_emb_d")) / (F.col("_q_norm") * F.col("_norm"))).alias("_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("_sim").desc(), F.col("vid").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vid", (F.round(F.col("_sim"), 9) + F.lit(0.0)).alias("cos_sim"), "rank")
    )


def hyperplanes(spark, n_planes: int = N_PLANES) -> DataFrame:
    """(j, i, w) integer hyperplane weights in [-1000, 1000], derived from
    md5('hp_{j}_{i}') — reproducible in any engine, no RNG state."""
    return (
        spark.range(n_planes)
        .withColumnRenamed("id", "j")
        .crossJoin(spark.range(64).withColumnRenamed("id", "i"))
        .select(
            "j",
            "i",
            (
                md5_i64(F.concat(F.lit("hp_"), F.col("j").cast("string"), F.lit("_"), F.col("i").cast("string")))
                % 2001
                - 1000
            ).alias("w"),
        )
    )


def lsh_buckets(
    emb: DataFrame, *, id_col: str = "vec_id", n_planes: int = N_PLANES
) -> DataFrame:
    """(vec_id, bucket) — n_planes-bit signed-projection LSH bucket per
    vector (2^n_planes buckets: the recall/cost knob — fewer planes =
    coarser buckets = more candidates = higher recall).

    Embeddings are fixed-point scaled (floor(x*1e6 + 0.5), exact in both
    engines) so the projection sum is integer arithmetic — the sign (and
    hence the bucket) is deterministic regardless of summation order.
    """
    hp = hyperplanes(emb.sparkSession, n_planes)
    flat = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(_as_double(F.col("embedding"))).alias("i", "e"),
    ).withColumn("e_int", F.floor(F.col("e") * FIXED_POINT + F.lit(0.5)).cast("long"))
    proj = (
        flat.join(F.broadcast(hp), "i")
        .groupBy("vid", "j")
        .agg(F.sum(F.col("e_int") * F.col("w")).alias("s"))
    )
    return proj.groupBy("vid").agg(
        F.sum(F.when(F.col("s") > 0, F.expr("shiftleft(1, cast(j as int))")).otherwise(F.lit(0)))
        .cast("long")
        .alias("bucket")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    *,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucket-pruned.

    Candidates are pairs sharing an LSH bucket (the 256-bucket signed
    projection of lsh_buckets); exact cosine is verified on candidates only.
    At corpus scale this is |C|^2/256 pair-evaluations instead of |C|^2 —
    and the bucket join is a plain equi shuffle.
    """
    buckets = lsh_buckets(emb, id_col=id_col, n_planes=n_planes)
    base = (
        with_norm(emb)
        .join(buckets, F.col(id_col) == F.col("vid"))
        .select(F.col(id_col).alias("_id"), "_emb_d", "_norm", "bucket")
    )
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._id").alias("id1"),
        F.col("b._id").alias("id2"),
        F.col("a.bucket").alias("bucket"),
        (
            _dot(F.col("a._emb_d"), F.col("b._emb_d"))
            / (F.col("a._norm") * F.col("b._norm"))
        ).alias("_sim"),
    )
    return pairs.where(F.col("_sim") >= min_cosine).select(
        "id1", "id2", "bucket", (F.round(F.col("_sim"), 9) + F.lit(0.0)).alias("cos_sim")
    )


def ann_lsh_topk(
    emb: DataFrame,
    *,
    query_pred: Column,
    k: int = 3,
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the query's LSH
    bucket.  The bucket equi-join replaces the all-pairs product — at scale
    this is the difference between |Q|x|C| and |Q|x|C|/256."""
    buckets = lsh_buckets(emb, id_col=id_col, n_planes=n_planes)
    # materialize the bucketed+normed index once — building the ANN index
    # is the one corpus pass; both the query slice and the candidate side
    # read the materialized index instead of re-running the projection
    # pipeline (guide §5: cut lineage on a reused intermediate)
    base = (
        with_norm(emb).join(buckets, F.col(id_col) == F.col("vid"))
        .drop("vid").localCheckpoint()
    )
    q = base.where(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col("_emb_d").alias("_q_emb"),
        F.col("_norm").alias("_q_norm"),
        F.col("bucket").alias("qbucket"),
    )
    c = base.select(F.col(id_col).alias("vid"), "_emb_d", "_norm", "bucket")
    sims = (
        F.broadcast(q)
        .join(c, (F.col("qbucket") == F.col("bucket")) & (F.col("qid") != F.col("vid")))
        .select(
            "qid",
            "vid",
            F.col("bucket"),
            (_dot(F.col("_q_emb"), F.col("_emb_d")) / (F.col("_q_norm") * F.col("_norm"))).alias("_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("_sim").desc(), F.col("vid").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vid", "bucket", (F.round(F.col("_sim"), 9) + F.lit(0.0)).alias("cos_sim"), "rank")
    )


N_CENTROIDS = 16


def _centroid_sims(base: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """(vid, cid, _csim) — every vector's cosine against every centroid: one
    narrow corpus pass over a broadcast of the tiny centroid set."""
    return base.crossJoin(F.broadcast(cents)).select(
        F.col(id_col).alias("vid"),
        "cid",
        (
            _dot(F.col("_emb_d"), F.col("_c_emb"))
            / (F.col("_norm") * F.col("_c_norm"))
        ).alias("_csim"),
    )


def _nearest_cells(
    base: DataFrame, cents: DataFrame, *, id_col: str = "vec_id", nprobe: int = 1
) -> DataFrame:
    """(vid, cell) of each vector's ``nprobe`` max-cosine centroids, with a
    deterministic tie-break (sim desc, cid asc).

    nprobe=1 is a map-side-combinable ``max(struct)`` argmax — partial
    aggregation collapses the |C| x n_centroids sims to |C| rows before the
    shuffle, where a row_number window would sort the full sims set.
    nprobe>1 needs the rank window."""
    sims = _centroid_sims(base, cents, id_col)
    if nprobe == 1:
        best = F.max(F.struct(F.col("_csim"), (-F.col("cid")).alias("_ncid")))
        return (
            sims.groupBy("vid")
            .agg(best.alias("_b"))
            .select("vid", (-F.col("_b._ncid")).cast("int").alias("cell"))
        )
    w = Window.partitionBy("vid").orderBy(F.col("_csim").desc(), F.col("cid").asc())
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= nprobe)
        .select("vid", F.col("cid").alias("cell"))
    )


def nearest_cell_sims(
    base: DataFrame, cents: DataFrame, *, id_col: str = "vec_id"
) -> DataFrame:
    """(vid, cell, csim) — the nprobe=1 argmax of :func:`_nearest_cells`
    with the winning cosine kept (for assignment-quality measurement, e.g.
    Lloyd convergence evidence).  Same map-side-combinable max(struct)
    shape: partials collapse to |C| rows before the shuffle."""
    sims = _centroid_sims(base, cents, id_col)
    best = F.max(F.struct(F.col("_csim"), (-F.col("cid")).alias("_ncid")))
    return (
        sims.groupBy("vid")
        .agg(best.alias("_b"))
        .select(
            "vid",
            (-F.col("_b._ncid")).cast("int").alias("cell"),
            F.col("_b._csim").alias("csim"),
        )
    )


def _centroid_set(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    n_centroids: int = N_CENTROIDS,
    n_iters: int = 0,
) -> DataFrame:
    """(cid, _c_emb, _c_norm) — seed centroids (the embeddings of ``vec_id <
    n_centroids``; no RNG in data paths), refined by ``n_iters``
    deterministic Lloyd iterations.

    Each iteration is (a) a broadcast assignment pass (one narrow scan of
    the corpus) and (b) a centroid update: per-component INTEGER mean of the
    members' fixed-point vectors — BIGINT sums are order-free and the floor
    double division is exact (quotient granularity 1/n dwarfs double ulp at
    these magnitudes), so trained centroids are bit-identical in any engine.
    Cosine is scale-invariant, so micro-unit centroids need no rescaling.
    At 10^12 rows each iteration costs one narrow pass plus one map-side-
    combinable shuffle whose reduced size is n_centroids x dims rows.

    Reference analog: the fit-then-lookup pattern of
    tasks/geo_referencing/georeference.py:130-144 (train a tiny model on the
    data, broadcast it back over the data)."""
    return _centroid_iterates(
        emb, id_col=id_col, n_centroids=n_centroids, n_iters=n_iters
    )[-1]


def _centroid_iterates(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    n_centroids: int = N_CENTROIDS,
    n_iters: int = 0,
) -> list[DataFrame]:
    """Centroid sets after 0..n_iters Lloyd iterations from ONE training
    run — element k is bit-identical to ``_centroid_set(..., n_iters=k)``
    (the trainer is deterministic and each iterate is already
    materialized), so a convergence harness measures every iteration
    without retraining from scratch per iteration count."""
    base = with_norm(emb)
    cents = base.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).cast("int").alias("cid"),
        F.col("_emb_d").alias("_c_emb"),
        F.col("_norm").alias("_c_norm"),
    )
    iterates = [cents]
    if n_iters <= 0:
        return iterates
    flat = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(_as_double(F.col("embedding"))).alias("i", "e"),
    ).select(
        "vid",
        "i",
        F.floor(F.col("e") * FIXED_POINT + F.lit(0.5)).cast("long").alias("e_int"),
    )
    for _ in range(n_iters):
        assign = _nearest_cells(base, cents, id_col=id_col, nprobe=1)
        cents = (
            flat.join(assign, "vid")
            .groupBy("cell", "i")
            .agg(
                F.floor(F.sum("e_int") / F.count(F.lit(1)))
                .cast("double")
                .alias("c")
            )
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("_ic"))
            .select(
                F.col("cell").cast("int").alias("cid"),
                F.transform("_ic", lambda s: s["c"]).alias("_c_emb"),
            )
            .withColumn("_c_norm", F.sqrt(_dot(F.col("_c_emb"), F.col("_c_emb"))))
        )
        # n_centroids rows: materialize so every downstream broadcast of the
        # trained set doesn't replay a full corpus pass per reference
        cents = cents.localCheckpoint(eager=True)
        iterates.append(cents)
    return iterates


def ann_ivf_topk(
    emb: DataFrame,
    *,
    query_pred: Column,
    k: int = 3,
    id_col: str = "vec_id",
    n_centroids: int = N_CENTROIDS,
    nprobe: int = 1,
    n_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: exact cosine ranking restricted to the
    query's ``nprobe`` nearest centroid cells.

    The complement of the LSH path: data-dependent cells (centroid Voronoi
    regions) instead of data-independent hyperplane buckets.  At corpus
    scale the cell equi-join turns |Q|x|C| into |Q|x|C|*nprobe/n_centroids,
    and the candidate join is a plain hash shuffle — never a cartesian.
    Candidates live in exactly one cell while queries probe ``nprobe``
    distinct cells, so (qid, vid) pairs are unique without dedup.
    ``n_iters`` Lloyd iterations train the coarse quantizer (shared between
    the data and query assignment — trained once).
    """
    cents = _centroid_set(
        emb, id_col=id_col, n_centroids=n_centroids, n_iters=n_iters
    )
    cells = _nearest_cells(with_norm(emb), cents, id_col=id_col, nprobe=1)
    base = with_norm(emb).join(cells, F.col(id_col) == F.col("vid")).drop("vid")
    qcells = _nearest_cells(with_norm(emb), cents, id_col=id_col, nprobe=nprobe)
    q = (
        with_norm(emb)
        .where(query_pred)
        .join(qcells, F.col(id_col) == F.col("vid"))
        .drop("vid")
        .select(
            F.col(id_col).alias("qid"),
            F.col("_emb_d").alias("_q_emb"),
            F.col("_norm").alias("_q_norm"),
            F.col("cell").alias("qcell"),
        )
    )
    c = base.select(F.col(id_col).alias("vid"), "_emb_d", "_norm", "cell")
    sims = (
        F.broadcast(q)
        .join(c, (F.col("qcell") == F.col("cell")) & (F.col("qid") != F.col("vid")))
        .select(
            "qid",
            "vid",
            F.col("cell"),
            (_dot(F.col("_q_emb"), F.col("_emb_d")) / (F.col("_q_norm") * F.col("_norm"))).alias("_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("_sim").desc(), F.col("vid").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vid", "cell", (F.round(F.col("_sim"), 9) + F.lit(0.0)).alias("cos_sim"), "rank")
    )


def random_project(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 8,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a deterministic
    Rademacher (±1) matrix: the classic cheap pre-step before ANN indexing
    or clustering at web scale (a dense 64-d corpus projected to 8-d cuts
    every downstream distance computation 8x while approximately preserving
    pairwise distances).

    The sign matrix derives from md5('rp_<j>_<k>') parity — the same
    no-RNG-state recipe as the LSH hyperplanes (see lsh_buckets), so any
    engine reproduces it bit-for-bit.  Components quantize to exact micro
    ints (float32 -> double is exact), so each output coordinate is an
    exact BIGINT sum of ±q_j — hashable across engines with no float tree
    at all.

    Plan: pure per-row column math (one narrow projection, zero shuffle,
    whole-stage codegen); the sign constants are baked at plan-build time
    by the driver, never computed per row.

    Reference analog: the reference ships raw CLIP-style embeddings to its
    ANN store (``pipelines/metadata_extraction/.../embedding lookup``);
    this is the standard on-ingest compaction step such a store applies.
    """
    import hashlib

    def sgn(j: int, k: int) -> int:
        h = int(hashlib.md5(f"rp_{j}_{k}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    # One quantized array + one aggregate() loop per output coordinate.
    # The earlier form expanded p_k = sum_j ±q_j into a 512-node nested-Add
    # tree whose Catalyst analysis + whole-stage-codegen compile dominated
    # the wall time at any corpus size (guide §1.2: per-task work includes
    # the plan the task compiles).  The fold evaluates the SAME long adds
    # in the SAME j-ascending order (exact integer math, NULL propagation
    # identical), so outputs are bit-identical; the plan is ~10x smaller.
    e = F.col(col)
    q = emb.select(
        id_col,
        F.array(
            *[
                F.floor(F.element_at(e, j + 1).cast("double") * F.lit(1e6))
                .cast("long")
                for j in range(in_dim)
            ]
        ).alias("_q"),
    )
    outs = []
    for k in range(out_dim):
        signs = F.array(*[F.lit(sgn(j, k)).cast("long") for j in range(in_dim)])
        outs.append(
            F.aggregate(
                F.zip_with(F.col("_q"), signs, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias(f"p{k}")
        )
    return q.select(id_col, *outs)


def sparse_cosine_pairs(
    docs: DataFrame,
    *,
    min_cosine: float = 0.5,
    max_df_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs cosine similarity over SPARSE TF-IDF term vectors — the
    lexical sibling of the dense-embedding near-dup join (public method:
    Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity Search", WWW'07;
    candidate generation via inverted index with a document-frequency cap).

    Reference analog: the legend↔extraction fuzzy matching
    (``tasks/point_extraction/legend_item_utils.py`` label similarity)
    done corpus-wide instead of per-document-pair.

    Scale shape: terms with df > max_df_frac * N are dropped from the
    VECTORS (boilerplate carries no TF-IDF mass and would fan the inverted
    index quadratically — same cap as the n-gram Jaccard join); candidates
    come from one inverted-index equi-join on the surviving terms; each
    pair's dot product is ONE combinable groupBy.

    Float portability: weights tf * ln((N+1)/(df+1)) are milli-quantized
    to BIGINT, so dot products and squared norms are EXACT integer sums
    (order-free — a float SUM over shared terms would be order-dependent
    across engines); the only floats are the final sqrt/divide tree.
    Returns (doc1, doc2, dot_milli, cos_sim) for pairs >= min_cosine.
    """
    words = F.filter(
        F.split(F.col(text_col), " "), lambda w: F.length(w) > 0
    )
    dw = docs.select(F.col(id_col), F.explode(words).alias("word"))
    tf = dw.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfx = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (
        tf.join(dfx, "word")
        .crossJoin(F.broadcast(nd))
        .where(F.col("df") <= (F.col("n") / F.lit(int(round(1 / max_df_frac)))))
        .select(
            F.col(id_col),
            "word",
            F.floor(
                F.col("tf").cast("double")
                * F.log(
                    (F.col("n") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1)).cast("double")
                )
                * F.lit(1000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("wi"),
        )
    )
    nrm = w.groupBy(id_col).agg(
        F.sum(F.col("wi") * F.col("wi")).cast("long").alias("n2")
    )
    a = w.select(
        F.col(id_col).alias("d1"), F.col("word"), F.col("wi").alias("wa")
    )
    b = w.select(
        F.col(id_col).alias("d2"), F.col("word"), F.col("wi").alias("wb")
    )
    dots = (
        a.join(b, "word")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot_milli"))
    )
    cos = (
        dots.join(nrm.select(F.col(id_col).alias("d1"), F.col("n2").alias("_na")), "d1")
        .join(nrm.select(F.col(id_col).alias("d2"), F.col("n2").alias("_nb")), "d2")
        .select(
            F.col("d1").alias("doc1"),
            F.col("d2").alias("doc2"),
            "dot_milli",
            (
                F.col("dot_milli").cast("double")
                / (
                    F.sqrt(F.col("_na").cast("double"))
                    * F.sqrt(F.col("_nb").cast("double"))
                )
            ).alias("_cos"),
        )
    )
    return cos.where(F.col("_cos") >= F.lit(float(min_cosine))).select(
        "doc1", "doc2", "dot_milli", F.round("_cos", 9).alias("cos_sim")
    )


def hard_negatives(
    emb: DataFrame,
    *,
    query_pred: Column,
    label_col: str = "label",
    k: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k most-similar corpus vectors carrying a DIFFERENT label —
    the negatives a metric-learning loss learns the most from (the public
    in-batch/ANN hard-negative recipe, here exact).

    Same scale shape as :func:`cosine_topk` — queries broadcast, corpus
    streams once, per-query rank window — with the label-mismatch
    predicate fused into the join so excluded pairs never materialize.

    Reference analog: the reference's legend matching keeps the best
    candidate that is NOT the already-assigned class
    (``tasks/point_extraction/legend_analyzer.py:202-300`` skip/keep
    logic); mining near-misses of the wrong class is that rule's
    training-data form.
    """
    base = with_norm(emb)
    q = base.where(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("q_label"),
        F.col("_emb_d").alias("_q_emb"),
        F.col("_norm").alias("_q_norm"),
    )
    c = base.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("neg_label"),
        "_emb_d",
        "_norm",
    )
    sims = (
        F.broadcast(q)
        .join(
            c,
            (F.col("qid") != F.col("vid"))
            & (F.col("q_label") != F.col("neg_label")),
        )
        .select(
            "qid",
            "q_label",
            "vid",
            "neg_label",
            (
                _dot(F.col("_q_emb"), F.col("_emb_d"))
                / (F.col("_q_norm") * F.col("_norm"))
            ).alias("_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_sim").desc(), F.col("vid").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            "q_label",
            "vid",
            "neg_label",
            (F.round(F.col("_sim"), 9) + F.lit(0.0)).alias("cos_sim"),
            "rank",
        )
    )


# MMR score fragment — textually shared with the oracle (dual-dialect
# invariant).  rel and maxd are ALREADY 9-dp-rounded, bit-identical
# doubles in both engines; with lambda = 0.5 the score is computed as
# (rel - maxd) / 2.0 — subtraction is deterministic IEEE and halving is
# EXACT (exponent decrement), so the score needs NO further rounding.
# (Rounding here would be a bug: 0.5 * a 9-dp value lands exactly on a
# .5 tie at the 10th digit ~10% of the time, and the engines break
# rounding ties differently — caught by the sf0.1 oracle sweep.)
MMR_SCORE_EXPR = "(rel - maxd) / 2.0 + 0.0"


def _mmr_driver_finish(cands: DataFrame, pairs: DataFrame, k: int) -> DataFrame:
    """Greedy MMR selection over the collected (bounded) pool tables.

    Exactly the distributed loop's arithmetic and tie-breaks on the same
    9-dp-rounded doubles: pick 1 maximizes ``rel`` (score = rel verbatim),
    later rounds maximize ``(rel - maxd) / 2.0 + 0.0`` with maxd over the
    already-selected set (NULL sims ignored); a NULL score sorts last and
    ties break by vid asc.  One collect of
    |queries| x pool (+ the pool-pair sims) replaces k-1 rounds of
    join+window+checkpoint jobs — the bounded-driver-finish pattern of
    connected_components/pca (guide §5: the droplet tail is cheaper to
    solve locally than to schedule)."""
    from collections import defaultdict

    rel_by_q: dict = defaultdict(dict)
    for r in cands.select("qid", "vid", "rel").collect():
        rel_by_q[r["qid"]][r["vid"]] = r["rel"]
    ps: dict = defaultdict(dict)
    for r in pairs.select("qid", "vid_a", "vid_b", "psim").collect():
        ps[r["qid"]][(r["vid_a"], r["vid_b"])] = r["psim"]

    def order(score, v):
        # the loop's window order: score desc NULLS LAST, then vid asc
        return (score is None, 0.0 if score is None else -score, v)

    out = []
    for qid, relmap in rel_by_q.items():
        remaining = set(relmap)
        v1 = min(remaining, key=lambda v: order(relmap[v], v))
        out.append((qid, v1, relmap[v1], relmap[v1], 1))
        sel = [v1]
        remaining.discard(v1)
        qps = ps[qid]
        for j in range(2, k + 1):
            if not remaining:
                break
            best = None
            for v in remaining:
                # SQL max ignores NULLs; NULL only when every sim is NULL
                maxd = max(
                    (d for d in (qps[(v, s)] for s in sel) if d is not None),
                    default=None,
                )
                rel = relmap[v]
                score = (
                    None if rel is None or maxd is None
                    else (rel - maxd) / 2.0 + 0.0
                )
                key = order(score, v)
                if best is None or key < best[0]:
                    best = (key, v, rel, score)
            out.append((qid, best[1], best[2], best[3], j))
            sel.append(best[1])
            remaining.discard(best[1])
    qt = cands.schema["qid"].dataType.simpleString()
    vt = cands.schema["vid"].dataType.simpleString()
    return cands.sparkSession.createDataFrame(
        out, f"qid {qt}, vid {vt}, rel double, score double, mmr_rank bigint"
    )


def mmr_topk(
    emb: DataFrame,
    *,
    query_pred: Column,
    pool: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    driver_finish_limit: int = 500_000,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998 — public method): greedily pick ``k`` of the
    ``pool`` most-relevant candidates per query, each round maximizing
    ``0.5*rel - 0.5*max_sim_to_already_selected`` (computed exactly as
    ``(rel - maxd)/2``) — the diverse few-shot
    / eval-set selection step plain cosine top-k cannot express (it
    returns near-duplicates of each other).

    Scale design (100 TB): relevance reuses the broadcast-query cosine
    stage; everything AFTER the pool cut operates on query x pool rows
    (bounded: |queries| * pool, with pool a small constant) — the
    pairwise-sim table is |queries| * pool^2 and every per-round argmax
    is a window over <= pool rows.  Rounds are localCheckpoint-
    materialized (the repo's iterative convention) so the plan stays
    linear.  Ordering is fully deterministic: every float is 9-dp
    rounded before any comparison, ties break by vid asc.
    """
    base = with_norm(emb)
    q = base.where(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col("_emb_d").alias("_q_emb"),
        F.col("_norm").alias("_q_norm"),
    )
    c = base.select(F.col(id_col).alias("vid"), "_emb_d", "_norm")
    sims = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            "_emb_d",
            "_norm",
            (
                F.round(
                    _dot(F.col("_q_emb"), F.col("_emb_d"))
                    / (F.col("_q_norm") * F.col("_norm")),
                    9,
                )
                + F.lit(0.0)
            ).alias("rel"),
        )
    )
    w_pool = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("vid").asc()
    )
    from pyspark.sql import Observation

    _obs_c = Observation()
    cands = (
        sims.withColumn("_rn", F.row_number().over(w_pool))
        .where(F.col("_rn") <= pool)
        .select("qid", "vid", "rel", "_emb_d", "_norm")
        .observe(_obs_c, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_cand = int(_obs_c.get["n"] or 0)
    a = cands.select(
        "qid",
        F.col("vid").alias("vid_a"),
        F.col("_emb_d").alias("_ea"),
        F.col("_norm").alias("_na"),
    )
    b = cands.select(
        "qid",
        F.col("vid").alias("vid_b"),
        F.col("_emb_d").alias("_eb"),
        F.col("_norm").alias("_nb"),
    )
    pairs = (
        a.join(b, "qid")
        .where(F.col("vid_a") != F.col("vid_b"))
        .select(
            "qid",
            "vid_a",
            "vid_b",
            (
                F.round(
                    _dot(F.col("_ea"), F.col("_eb"))
                    / (F.col("_na") * F.col("_nb")),
                    9,
                )
                + F.lit(0.0)
            ).alias("psim"),
        )
        .localCheckpoint(eager=True)
    )
    # bounded pool -> finish the greedy selection driver-side (identical
    # arithmetic/tie-breaks; see _mmr_driver_finish).  Larger query sets
    # fall back to the distributed per-round loop below.
    if driver_finish_limit and n_cand * max(pool - 1, 1) <= driver_finish_limit:
        return _mmr_driver_finish(cands, pairs, k)
    slim = cands.select("qid", "vid", "rel")
    w_pick = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vid").asc()
    )
    first = (
        slim.withColumn("score", F.col("rel"))
        .withColumn("_rn", F.row_number().over(w_pick))
        .where(F.col("_rn") == 1)
        .select("qid", "vid", "rel", "score", F.lit(1).cast("long").alias("mmr_rank"))
    )
    selected = first.localCheckpoint(eager=True)
    remaining = slim.join(selected.select("qid", "vid"), ["qid", "vid"], "left_anti")
    for j in range(2, k + 1):
        sel_b = selected.select(
            F.col("qid").alias("_s_qid"), F.col("vid").alias("_s_vid")
        )
        d = (
            pairs.join(
                sel_b,
                (F.col("qid") == F.col("_s_qid"))
                & (F.col("vid_b") == F.col("_s_vid")),
            )
            .select("qid", F.col("vid_a").alias("vid"), "psim")
            .join(remaining, ["qid", "vid"])
            .groupBy("qid", "vid", "rel")
            .agg(F.max("psim").alias("maxd"))
        )
        pick = (
            d.withColumn("score", F.expr(MMR_SCORE_EXPR))
            .withColumn("_rn", F.row_number().over(w_pick))
            .where(F.col("_rn") == 1)
            .select(
                "qid", "vid", "rel", "score",
                F.lit(j).cast("long").alias("mmr_rank"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
        remaining = slim.join(
            selected.select("qid", "vid"), ["qid", "vid"], "left_anti"
        )
    return selected
