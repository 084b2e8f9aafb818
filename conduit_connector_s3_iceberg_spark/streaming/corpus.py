"""Streaming corpus ingestion: the training-data cleaning pipeline
(operators/text.py's ``pipeline_training_set``) re-expressed over an
unbounded document stream.

Gates are the SAME column expressions as the batch pipeline (imported, not
re-derived — batch and stream accept identical documents); dedup swaps the
batch fingerprint-window for ``dropDuplicatesWithinWatermark``, whose state
store holds one entry per fingerprint only within the watermark horizon —
bounded state, which is what makes continuous 100-TB/day ingest feasible.
A duplicate arriving later than the horizon is admitted (and removed by the
periodic batch dedup compaction); the horizon is the knob trading state
size against duplicate leakage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import (
    LANG_MARKERS,
    QUALITY_THRESHOLD,
    _hits,
    _tokens,
    quality_col,
)
from .cdc import start_foreach_batch


def clean_doc_stream(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "10 minutes",
    quality_threshold: float = QUALITY_THRESHOLD,
    repetition_gate: bool = False,
) -> DataFrame:
    """Language gate → quality gate → (optional) Gopher repetition gate →
    within-watermark exact dedup over a streaming DataFrame of
    ``(doc_id, text, <ts_col>)``.

    Returns the cleaned stream with the same signal columns the batch
    pipeline emits (content_fp, n_tokens, quality). All gates are narrow
    codegen expressions — the only stateful stage is the fingerprint
    dedup. ``repetition_gate=True`` adds ``gopher_pass_col`` (the
    zero-shuffle per-row form of ``text_gopher_rules`` — stateless, so it
    composes pre-watermark like the other gates and admits the
    bit-identical document set as the batch query)."""
    src = docs
    if repetition_gate:
        from ..operators.text import gopher_pass_col

        # stateless per-row expression → composes pre-watermark like the
        # other gates; filtering on the raw text BEFORE the projection
        # keeps the plan one narrow map + filter
        src = src.filter(gopher_pass_col())
    scored = src.select(
        "doc_id",
        ts_col,
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_fp"),
        F.size(_tokens()).alias("n_tokens"),
        quality_col().alias("quality"),
        _hits(LANG_MARKERS["en"]).alias("en_hits"),
    )
    kept = scored.filter(
        (F.col("en_hits") > 0) & (F.col("quality") >= quality_threshold)
    ).drop("en_hits")
    return kept.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_fp"]
    )


def composition_chisq_from_summary(summary: DataFrame) -> DataFrame:
    """Chi-square composition audit over an IVM-maintained (lang, source)
    count summary — the 100-TB form of ``corpus_lang_source_chisq``.

    The batch query re-scans the corpus for its contingency counts; a
    monitoring pipeline instead maintains the counts from the document
    CDC feed in O(delta) per epoch (``ivm.maintain_summary_stream`` with
    ``group_cols=["lang", "source"]``) and runs THIS marginal-sized
    recompute per epoch — the statistic is exact for the net corpus at
    every epoch boundary, with zero base-table scans. Equality with the
    batch query over the same feed is asserted in
    ``tests/test_streaming.py::test_composition_chisq_matches_batch``.
    """
    from ..operators.corpus import chisq_from_counts

    return chisq_from_counts(
        summary.select("lang", "source", F.col("n_rows").cast("bigint").alias("n"))
    )


# -------------------------------------------------- mixture-shift monitor
#
# Streaming twin of ``corpus_dedup_mixture_shift`` (r5 verdict #6): the
# batch query re-scans the corpus to compare per-source token share before
# vs after keep-first dedup; the monitor maintains TWO source-grain IVM
# summaries from the document feed — all arrivals, and admitted-only
# arrivals (first-seen content fingerprint, the dedup_stream admission
# policy) — and recomputes the share table per epoch from those summaries
# alone. Cost per epoch is O(batch) + a |sources|-sized recompute; the
# standing fingerprint index is probed with the batch's (small) fp set
# broadcast, never shuffled.
#
# Scope: document feeds are append-only (keep-first admission is
# well-defined for inserts; a delete of a group's keeper would need a
# rescan to promote the next member — same MIN/MAX caveat as ivm.py).
# Keeper choice matches the batch query's keep=min(doc_id) whenever doc
# ids arrive in order (in-batch ties break by doc_id).


def apply_mixture_epoch(wh, prefix: str, batch: DataFrame, epoch_id: int) -> None:
    """One idempotent epoch of the mixture-shift monitor: all rows merge
    into the ``{prefix}_before`` summary; first-seen-fingerprint rows are
    admitted against the ``{prefix}_keep`` index and merge into
    ``{prefix}_after``. Both summaries are (source, n_rows, sum_n_tokens)."""
    from ..writer import epoch_already_applied, mark_epoch_applied
    from .ivm import (
        SIGN_COL,
        append_index,
        apply_summary_delta,
        keep_first,
        probe_novel,
    )

    epoch_table = f"{prefix}__applied_epoch"
    if batch.isEmpty():
        return
    if epoch_already_applied(wh, epoch_table, epoch_id):
        return
    tok = batch.select(
        "doc_id",
        "source",
        F.expr("CAST(size(split(trim(text), ' ')) AS BIGINT)").alias(
            "n_tokens"
        ),
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_fp"),
    ).localCheckpoint()  # consumed by both summaries + the admission probe
    # per-epoch commit marks on every write; the keep-index append stays
    # LAST (admit_novel's ordering rule: once it commits, a replay's
    # probe sees the fps and recomputes novel empty — correct only
    # because everything else already committed and mark-skips)
    apply_summary_delta(
        wh,
        f"{prefix}_before",
        tok.select(F.lit(1).alias(SIGN_COL), "source", "n_tokens"),
        ["source"],
        ["n_tokens"],
        mark=f"e{epoch_id}",
    )
    keep_table = f"{prefix}_keep"
    novel = probe_novel(
        wh, keep_table, keep_first(tok, "content_fp"), "content_fp"
    ).localCheckpoint()  # consumed twice (summary + index)
    apply_summary_delta(
        wh,
        f"{prefix}_after",
        novel.select(F.lit(1).alias(SIGN_COL), "source", "n_tokens"),
        ["source"],
        ["n_tokens"],
        mark=f"e{epoch_id}",
    )
    append_index(
        wh, keep_table, novel.select("content_fp"), mark=f"e{epoch_id}"
    )
    mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)


def mixture_shift_from_state(wh, prefix: str) -> DataFrame:
    """Per-source share table (same schema as the batch
    ``corpus_dedup_mixture_shift``) from the maintained summaries alone —
    a |sources|-sized computation, zero corpus scans."""
    before = wh.read(f"{prefix}_before").select(
        "source", F.col("sum_n_tokens").cast("bigint").alias("tokens_before")
    )
    after = wh.read(f"{prefix}_after").select(
        "source", F.col("sum_n_tokens").cast("bigint").alias("tokens_after")
    )
    per_source = (
        before.join(after, "source", "full_outer")
        .select(
            "source",
            F.coalesce("tokens_before", F.lit(0)).alias("tokens_before"),
            F.coalesce("tokens_after", F.lit(0)).alias("tokens_after"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per_source.agg(
        F.sum("tokens_before").cast("bigint").alias("tb"),
        F.sum("tokens_after").cast("bigint").alias("ta"),
    )
    sb = F.col("tokens_before").cast("double") / F.col("tb")
    sa = F.col("tokens_after").cast("double") / F.col("ta")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tokens_before",
            "tokens_after",
            sb.alias("share_before"),
            sa.alias("share_after"),
            (sa - sb).alias("share_shift"),
        )
        .orderBy("source")
    )


def maintain_mixture_stream(
    stream: DataFrame,
    wh,
    prefix: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously maintain the mixture-shift monitor from a document
    stream (columns ``doc_id, source, text``)."""
    return start_foreach_batch(
        stream,
        lambda batch, epoch_id: apply_mixture_epoch(
            wh, prefix, batch, epoch_id
        ),
        checkpoint_dir,
        available_now,
    )
