"""MMR diversified top-k vs a pure-python greedy model."""

from __future__ import annotations

import math


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def _python_mmr(vecs, qids, pool=20, k=5, lam=0.5):
    out = {}
    for qid in qids:
        rel = {
            v: round(_cos(vecs[qid], vecs[v]), 9) + 0.0
            for v in vecs
            if v != qid
        }
        cand = sorted(rel, key=lambda v: (-rel[v], v))[:pool]
        sel = []
        for rank in range(1, k + 1):
            if not sel:
                scored = {v: rel[v] for v in cand}
            else:
                scored = {
                    v: (
                        rel[v]
                        - max(
                            round(_cos(vecs[v], vecs[s]), 9) + 0.0 for s in sel
                        )
                    )
                    / 2.0
                    + 0.0
                    for v in cand
                    if v not in sel
                }
            pick = min(scored, key=lambda v: (-scored[v], v))
            out[(qid, pick)] = (rank, rel[pick], scored[pick])
            sel.append(pick)
    return out


def test_mmr_matches_python_and_diversifies(spark):
    from pyspark.sql import functions as F

    from uncharted_ta1_spark.operators.similarity import cosine_topk, mmr_topk

    import numpy as np

    rng = np.random.RandomState(7)
    # three ORTHOGONAL cluster axes; corpus points are tight cluster noise.
    # Queries lean hard toward cluster 0 with a small cluster-1 component,
    # so plain cosine top-4 provably returns ONLY cluster-0 points while
    # MMR (lambda=0.5) must reach into cluster 1 after the first pick.
    centers = np.zeros((3, 8))
    for c in range(3):
        centers[c, c] = 2.0
    vecs = {}
    for i in range(30):
        c = centers[i % 3]
        vecs[i] = tuple((c + rng.randn(8) * 0.03).tolist())
    for qid, (a, b) in {100: (0, 1), 101: (0, 2)}.items():
        vecs[qid] = tuple((centers[a] + 0.45 * centers[b]).tolist())
    rows = [(i, list(map(float, v))) for i, v in vecs.items()]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # float32 storage: recompute the python model on the STORED values
    stored = {
        r.vec_id: tuple(r.embedding)
        for r in emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).collect()
    }
    got = {
        (r.qid, r.vid): (r.mmr_rank, r.rel, r.score)
        for r in mmr_topk(
            emb, query_pred=F.col("vec_id") >= 100, pool=12, k=4
        ).collect()
    }
    exp = _python_mmr(stored, [100, 101], pool=12, k=4)
    assert set(got) == set(exp)
    for key, (rank, rel, score) in exp.items():
        grank, grel, gscore = got[key]
        assert grank == rank, (key, grank, rank)
        assert abs(grel - rel) < 1e-9
        assert abs(gscore - score) < 1e-9
    # plain top-4 collapses to the dominant cluster...
    plain = cosine_topk(emb, query_pred=F.col("vec_id") >= 100, k=4).collect()
    for qid, minor in ((100, 1), (101, 2)):
        picks = [r.vid for r in plain if r.qid == qid]
        assert all(v % 3 == 0 for v in picks), (qid, picks)
        # ...while MMR mixes in the query's minor cluster
        mmr_picks = [v for (q, v) in got if q == qid]
        assert any(v % 3 == minor for v in mmr_picks), (qid, mmr_picks)
        assert any(v % 3 == 0 for v in mmr_picks)


def test_mmr_driver_finish_equals_distributed_loop(spark):
    """r07 pin: the bounded-pool driver-side greedy finish must produce
    EXACTLY the distributed per-round loop's output (ranks, rel, score all
    bit-equal) — the two implementations answer the same spec and guard
    each other.  The second corpus has NULL embeddings inside the pool:
    NULL ``rel`` and ``psim`` values, a query whose every score is NULL,
    and NULL-scored picks that must sort last with ties by vid."""
    from pyspark.sql import functions as F

    import numpy as np

    from uncharted_ta1_spark.operators.similarity import mmr_topk

    rng = np.random.RandomState(11)

    def vec():
        return [float(x) for x in rng.randn(8)]

    dense = [(i, vec()) for i in range(40)] + [(200, vec()), (201, vec())]
    with_nulls = [(i, None if i in (1, 4) else vec()) for i in range(7)] + [
        (200, vec()),
        (201, None),
    ]
    pred = F.col("vec_id") >= 200
    for rows, pool, k in ((dense, 10, 4), (with_nulls, 10, 7)):
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        fast = {
            (r.qid, r.vid): (r.mmr_rank, r.rel, r.score)
            for r in mmr_topk(emb, query_pred=pred, pool=pool, k=k).collect()
        }
        slow = {
            (r.qid, r.vid): (r.mmr_rank, r.rel, r.score)
            for r in mmr_topk(
                emb, query_pred=pred, pool=pool, k=k, driver_finish_limit=0
            ).collect()
        }
        assert fast == slow
