"""Streaming twin of the persisted ground-truth top-k maintenance.

The batch path (``operators/gt_topk.ensure_gt_topk``) maintains the
exact ANN-evaluation truth table from appended corpus files; this twin
maintains the SAME on-disk state from an append-only embedding stream
(columns ``vec_id, embedding``), one idempotent foreachBatch epoch at a
time — the protocol every state-family twin shares: epochs run through
``streaming.cdc.start_foreach_batch`` into the family's row-level
``state.StateRoot`` maintain, nothing lives in the Spark state store,
the manifest IS the recovery point, restarts resume from it, and every
batch consumer (``sim_topk_bruteforce``, the recall audits, the
retrieval-eval family ``retrieval_ndcg_mrr`` /
``retrieval_avg_precision`` / ``retrieval_pr_curve``) shares the
result.  Epochs score the incoming vectors against the PERSISTED probe
vectors (GT_QUERIES × DIM floats) and merge into the standing K rows
per query — no corpus scan, exact because the corpus is append-only.
Replay safety: a re-delivered vector ties its standing copy and
collapses on (query_id, vec_id), so end-to-end exactly-once falls out
of idempotence.  A stream epoch that introduces a NEW probe id raises
(its truth rows need a corpus pass — the graph twin's enforce-don't-
degrade contract).

Batch == stream equality across a checkpoint restart is asserted in
``tests/test_round13_gt_topk.py``: streaming the tail of a corpus into
a state built on its head yields a bit-identical truth table to a
from-scratch build over the whole corpus, and the retrieval-eval
queries served from it match their from-scratch oracles.
"""

from __future__ import annotations

from .cdc import start_foreach_batch

GT_STREAM_SCHEMA = "vec_id bigint, embedding array<float>"


def maintain_gt_topk_stream(
    stream,
    state_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously maintain the ground-truth top-k state at
    ``state_root`` (created by ``ensure_gt_topk``) from an append-only
    embedding stream with :data:`GT_STREAM_SCHEMA` columns."""
    from ..operators.gt_topk import maintain_gt_topk

    def epoch(batch, epoch_id: int) -> None:
        if not batch.isEmpty():
            maintain_gt_topk(
                batch.sparkSession,
                batch.select("vec_id", "embedding"),
                state_root,
            )

    return start_foreach_batch(stream, epoch, checkpoint_dir, available_now)
