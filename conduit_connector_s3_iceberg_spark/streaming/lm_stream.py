"""Streaming twin of the persisted token/bigram counts maintenance.

The batch path (``operators/lm_state.ensure_token_counts``) maintains
the lm-family token front end from appended corpus files; this twin
maintains the SAME on-disk state from an append-only document stream
(columns ``doc_id, text``), one idempotent foreachBatch epoch at a time
— the protocol every state-family twin shares: epochs run through
``streaming.cdc.start_foreach_batch`` into the family's row-level
``state.StateRoot`` maintain, nothing lives in the Spark state store,
the manifest IS the recovery point, restarts resume from it, and every
batch consumer (``lm_bigram_score`` / ``lm_kneser_ney``
/ ``lm_interpolation_curve`` / ``text_dsir_weights`` / ...) shares the
result. Replay safety is the doc_id anti-join in
``maintain_token_counts`` (per-document counts: a re-delivered epoch
adds nothing), so end-to-end exactly-once falls out of idempotence.
"""

from __future__ import annotations

from .cdc import start_foreach_batch

TOKEN_STREAM_SCHEMA = "doc_id bigint, text string"


def maintain_token_counts_stream(
    stream,
    state_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously maintain the token/bigram counts state at
    ``state_root`` (created by ``ensure_token_counts``) from an
    append-only document stream."""
    from ..operators.lm_state import maintain_token_counts

    def epoch(batch, epoch_id: int) -> None:
        if not batch.isEmpty():
            maintain_token_counts(
                batch.sparkSession, batch.select("doc_id", "text"), state_root
            )

    return start_foreach_batch(stream, epoch, checkpoint_dir, available_now)
