"""Streaming as-of serving: answer a probe STREAM against accumulated state.

Reference analog: the deployed reference answers georeferencing queries
arriving over a queue against per-map state built earlier
(``cdr/server.py:273-335`` event replay + ``tasks/common/request_client.py``
queue consumption) — the serving half of the fit-then-lookup loop.

Structured Streaming cannot express the as-of running-last window directly
(no ordered window over an unbounded stream), so the operator runs the BATCH
``asof_join`` once per micro-batch inside ``foreachBatch``: each batch of
probes is answered against the full state table, exactly-once per batch via
the checkpointed batch_id.  This is the standard storage-mediated pattern
(ST5): state lives in a table the stream never mutates, so every micro-batch
sees a consistent snapshot and the result is independent of how probes are
batched — asserted by tests/test_streaming.py (stream == batch equality).

Cost per micro-batch: ONE scan of the whole state, then ONE shuffle of the
pruned state plus the batch.  A broadcast semi join on the batch's keys
prunes the state before the shuffle; it cannot prune the scan, since a
keyed table bucketed on its full key (e.g. ``(doc_id, source, seq_no)``)
spreads every ``(doc_id, source)`` over all buckets.  Because serving
state is always pruned to the probed keys, the lookup picks the as-of
join's single-window payload strategy (the payload rides in the filled
struct), not the thin anchor with its second state scan and payload
join-back that bulk backfills over unpruned state need.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uncharted_ta1_spark.operators.asof import asof_join


def asof_answer_batch(
    state: DataFrame,
    probe_batch: DataFrame,
    *,
    keys: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Answer one probe batch with the leakage-free as-of lookup.

    The state is pruned to the batch's keys by a broadcast left-semi join
    (a semi join emits each state row at most once, so duplicate batch keys
    need no ``distinct``).  The pruned state is what makes the single-window
    payload strategy cheap here, so it is chosen explicitly.
    """
    pruned = state.join(F.broadcast(probe_batch.select(*keys)), keys, "left_semi")
    return asof_join(
        pruned,
        probe_batch,
        keys=keys,
        payload_cols=payload_cols,
        defaults={"tokens": F.array().cast("array<int>"), "n_tok": F.lit(-1)},
        fetch_payload_via_join=False,
    )


def serve_probe_stream(
    probe_stream: DataFrame,
    state: DataFrame,
    *,
    keys: list[str],
    payload_cols: list[str],
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Start the serving query: each micro-batch of probes is answered
    against `state` and handed to `sink(answers_df, batch_id)`."""

    def _answer(batch_df: DataFrame, batch_id: int) -> None:
        sink(
            asof_answer_batch(
                state, batch_df, keys=keys, payload_cols=payload_cols
            ),
            batch_id,
        )

    return (
        probe_stream.writeStream.foreachBatch(_answer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
