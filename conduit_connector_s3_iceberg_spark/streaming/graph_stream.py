"""Streaming twin of the persisted graph state's O(delta) maintenance.

The batch path (``operators/graph_state.ensure_graph_state``) maintains
the trade-graph state from appended corpus files; this twin maintains
the SAME on-disk state from a CDC-shaped record stream, one idempotent
foreachBatch epoch at a time — the protocol every state-family twin
shares: epochs run through ``streaming.cdc.start_foreach_batch`` into
the family's row-level ``state.StateRoot`` maintain, nothing lives in
the Spark state store, the manifest IS the recovery point, restarts
resume from it, and every batch consumer (``graph_pagerank`` / ``graph_ppr_seeded`` /
``graph_label_propagation`` / ``graph_state_audit``) shares the result.

Stream schema is the union CDC shape a single order-slice topic carries:
``kind string ('order' | 'lineitem'), okey bigint, ck bigint, sk bigint,
pk bigint`` ('order' rows populate ck, 'lineitem' rows populate sk +
pk — the part key feeds the co-purchase edge state). Epochs must be
FK-complete INSERT slices (a lineitem's order is in the same epoch or
already in the state) — the row-level maintain enforces it and an epoch
replay after a crash is dropped by the state's anti-joins, so
end-to-end exactly-once falls out of idempotence (the CDC ack
discipline of ``streaming/cdc.py``). Only insert/append events are
supported: an update-shaped order row (same okey, changed ck) is
DETECTED by the maintain's okc audit and raises like the FK-orphan
case — the insert-only okc map cannot absorb a changed FK, and
silently keeping the old customer would corrupt the edge set.

Batch == stream equality across a checkpoint restart is asserted in
``tests/test_round11_graph_state.py``: streaming the tail of a corpus
into a state built on its head yields bit-identical rank/label tables to
a from-scratch build over the whole corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .cdc import start_foreach_batch

GRAPH_STREAM_SCHEMA = (
    "kind string, okey bigint, ck bigint, sk bigint, pk bigint"
)


def maintain_graph_stream(
    stream,
    state_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously maintain the graph state at ``state_root`` (created
    by ``ensure_graph_state``) from an order-slice record stream with
    :data:`GRAPH_STREAM_SCHEMA` columns."""
    from ..operators.graph_state import maintain_graph_delta

    def epoch(batch, epoch_id: int) -> None:
        if not batch.isEmpty():
            maintain_graph_delta(
                batch.sparkSession,
                batch.filter(F.col("kind") == "order").select("okey", "ck"),
                batch.filter(F.col("kind") == "lineitem").select(
                    "okey", "sk", "pk"
                ),
                state_root,
            )

    return start_foreach_batch(stream, epoch, checkpoint_dir, available_now)
