"""Streaming incremental dedup against a STANDING fingerprint index.

``clean_doc_stream`` dedups within the stream's watermark horizon (bounded
state-store memory); this module closes the other half of the production
loop: each micro-batch is also checked against the PERSISTED index of
every fingerprint ever admitted — the streaming twin of the batch
``dedup_incremental_delta`` (operators/dedup.py), sharing its join
discipline:

* the standing index is big and is NEVER shuffled or broadcast — the
  micro-batch's fingerprint set (small by construction) broadcasts into
  an inner probe join, and the matched set (smaller still) broadcasts
  back into an anti filter. Cost per epoch is O(batch), not O(corpus).
* admitted documents append to the output table, their fingerprints to
  the index — the index IS the dedup state, surviving restarts and
  shared with batch jobs (Iceberg table in production; the
  ParquetWarehouse analogue here).

Replay safety: foreachBatch is at-least-once, so a re-delivered epoch
must not re-admit documents whose fingerprints its first delivery already
registered (a blind anti-join WOULD filter them — but only after the
index append committed; the epoch sidecar also covers the half-applied
window). Same watermark-sidecar discipline as the CMS/IVM maintainers,
same Parquet-analogue caveat: the two appends and the watermark are
separate commits here, one transaction on Iceberg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cdc import start_foreach_batch


def _fingerprint() -> F.Column:
    # the engine-wide content fingerprint (operators/dedup.py uses the
    # identical expression, so batch and stream agree on what "duplicate"
    # means)
    return F.md5(F.lower(F.trim(F.col("text"))))


def apply_dedup_epoch(
    wh, fp_table: str, out_table: str, batch: DataFrame, epoch_id: int
) -> None:
    """One idempotent epoch: in-batch keep-first, anti-probe the standing
    index, append survivors + their fingerprints, advance the epoch
    watermark. Module-level so replay semantics are unit-testable."""
    from ..writer import epoch_already_applied, mark_epoch_applied
    from .ivm import admit_novel

    epoch_table = f"{fp_table}__applied_epoch"
    if batch.isEmpty():
        return
    if epoch_already_applied(wh, epoch_table, epoch_id):
        return  # re-delivered epoch — already admitted

    admit_novel(
        wh,
        fp_table,
        batch.withColumn("content_fp", _fingerprint()),
        "content_fp",
        out_table=out_table,
        index_cols=["content_fp"],
        mark=f"e{epoch_id}",
    )
    mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)


def maintain_dedup_stream(
    stream: DataFrame,
    wh,
    fp_table: str,
    out_table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously admit only first-seen documents from ``stream``
    (columns must include ``doc_id`` and ``text``): the streaming face of
    incremental corpus dedup. State = the fingerprint table itself —
    unbounded in fingerprints but O(1) per admitted doc, queryable, and
    shared with the batch engine; nothing lives in the state store."""
    return start_foreach_batch(
        stream,
        lambda batch, epoch_id: apply_dedup_epoch(
            wh, fp_table, out_table, batch, epoch_id
        ),
        checkpoint_dir,
        available_now,
    )


# ------------------------------------------------ family-savings monitor
#
# Streaming twin of ``dedup_family_savings`` (r5 verdict #6): the batch
# manifest (per dedup family: doc/group counts + the token mass keep-first
# would remove) re-derived continuously from IVM summaries maintained at
# fingerprint grain. Per epoch: O(batch) fingerprinting, two signed-delta
# merges into group-grain summaries, two first-seen keeper appends; the
# manifest recompute touches only the group-grain tables (the dedup-state
# footprint a 100-TB pipeline already carries — the fingerprint index),
# never the corpus. Append-only scope, same keeper caveat as the
# mixture-shift monitor.


def apply_family_savings_epoch(
    wh, prefix: str, batch: DataFrame, epoch_id: int
) -> None:
    """One idempotent epoch: fingerprint the batch (exact md5 + 16-bit
    SimHash — the IDENTICAL expressions the batch query uses), merge
    signed deltas into the ``{prefix}_eg`` / ``{prefix}_sg`` group
    summaries, admit first-seen keepers into ``{prefix}_ek`` /
    ``{prefix}_sk`` with their token counts."""
    from ..operators.dedup import _SIMHASH_FP, _simhash_vote_sql
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
        F.expr("CAST(size(split(trim(text), ' ')) AS BIGINT)").alias(
            "n_tokens"
        ),
        _fingerprint().alias("efp"),
    )
    votes = (
        batch.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .groupBy("doc_id")
        .agg(
            *[
                F.expr(_simhash_vote_sql(b).replace(f" AS v{b}", "")).alias(
                    f"v{b}"
                )
                for b in range(16)
            ]
        )
    )
    sim = votes.select("doc_id", F.expr(_SIMHASH_FP).cast("int").alias("sfp"))
    j = tok.join(sim, "doc_id").localCheckpoint()  # 4 consumers below

    for fp_col, summary, keeper in (
        ("efp", f"{prefix}_eg", f"{prefix}_ek"),
        ("sfp", f"{prefix}_sg", f"{prefix}_sk"),
    ):
        apply_summary_delta(
            wh,
            summary,
            j.select(F.lit(1).alias(SIGN_COL), fp_col, "n_tokens"),
            [fp_col],
            ["n_tokens"],
            mark=f"e{epoch_id}",
        )
        firsts = keep_first(j, fp_col).select(
            fp_col, F.col("n_tokens").alias("tok_kept")
        )
        append_index(
            wh,
            keeper,
            probe_novel(wh, keeper, firsts, fp_col),
            mark=f"e{epoch_id}",
        )
    mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)


def family_savings_from_state(wh, prefix: str) -> DataFrame:
    """The 2-row savings manifest (same schema as the batch
    ``dedup_family_savings``) from the group-grain summaries alone."""

    def family(name: str, summary: str, keeper: str, fp_col: str) -> DataFrame:
        g = wh.read(summary).join(wh.read(keeper), fp_col)
        return g.agg(
            F.lit(name).alias("family"),
            F.sum("n_rows").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            (F.sum("n_rows") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("docs_removed"),
            F.sum("sum_n_tokens").cast("bigint").alias("tokens_total"),
            F.sum("tok_kept").cast("bigint").alias("tokens_kept"),
            (F.sum("sum_n_tokens") - F.sum("tok_kept"))
            .cast("bigint")
            .alias("tokens_removed"),
            (
                (F.sum("sum_n_tokens") - F.sum("tok_kept")).cast("double")
                / F.sum("sum_n_tokens")
            ).alias("frac_tokens_removed"),
        )

    return (
        family("exact", f"{prefix}_eg", f"{prefix}_ek", "efp")
        .unionByName(
            family("simhash", f"{prefix}_sg", f"{prefix}_sk", "sfp")
        )
        .orderBy("family")
    )


def maintain_family_savings_stream(
    stream: DataFrame,
    wh,
    prefix: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously maintain the family-savings manifest state from a
    document stream (columns ``doc_id, text``)."""
    return start_foreach_batch(
        stream,
        lambda batch, epoch_id: apply_family_savings_epoch(
            wh, prefix, batch, epoch_id
        ),
        checkpoint_dir,
        available_now,
    )


# ------------------------------------------------ labels-table maintenance
#
# Streaming face of the materialized dedup labels table (r6 verdict #6):
# each micro-batch of appended documents is applied to the persisted
# labels state via the SAME maintain_dedup_state the batch path uses —
# near-dup edges from a broadcast probe of the standing shingle index,
# cap-crossing detection, re-contraction of touched components only.
# O(batch + affected) per epoch, exact (incremental == full recompute is
# oracle-proven on the batch twin), and replay-safe twice over with NO
# epoch sidecar: already-labeled doc_ids are dropped by the state's own
# anti-join, and a half-applied epoch writes only generation-scoped files
# that stay invisible until the manifest commit — an at-least-once
# foreachBatch retry simply overwrites them.


def maintain_labels_stream(
    stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously maintain cluster_id / group_fp for an append-only
    document stream (columns ``doc_id, text``) against the labels state
    at ``state_root`` (created by ``build_dedup_state``). The state is
    the queryable per-document dedup-metadata table itself — nothing
    lives in the Spark state store, so restarts resume from the manifest
    and the table is shared with every batch consumer."""
    from ..operators.dedup import maintain_dedup_state

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            maintain_dedup_state(
                batch.sparkSession, batch.select("doc_id", "text"), state_root
            )

    return start_foreach_batch(stream, epoch, checkpoint_dir, available_now)


# ------------------------------------------ substring-overlap admission ----
#
# The streaming face of ``dedup_substring_spans`` (operators/dedup.py):
# admission gated not on EXACT content identity but on how much of a
# document's token mass is already in the admitted corpus — the Lee et
# al. ExactSubstr criterion applied at ingest time. A document is
# admitted iff the fraction of its SUB_K-token windows whose digest is
# already in the STANDING window-digest index stays at or below
# ``max_overlap``; the admitted document's NOVEL digests then extend the
# index. Same join discipline as ``apply_dedup_epoch``: the standing
# index is never shuffled or broadcast — the batch's (small) digest set
# broadcasts into the probe, the matched set broadcasts back. O(batch
# token mass) per epoch.
#
# Granularity contract: the gate sees the index as of the PREVIOUS
# epoch — two near-overlapping documents arriving in one micro-batch
# both pass (exact in-batch duplicates are still caught by the keep-first
# content-fingerprint pass). That is the deterministic, order-free
# semantics; per-row sequential admission inside a batch would reimpose
# the suffix-array serialization this operator exists to avoid.

def apply_substring_gate_epoch(
    wh,
    idx_table: str,
    out_table: str,
    batch: DataFrame,
    epoch_id: int,
    max_overlap: float = 0.5,
) -> None:
    """One idempotent epoch of substring-overlap gated admission."""
    from ..operators.dedup import SUB_K, _SUB_TOKS_SPARK
    from ..writer import epoch_already_applied, mark_epoch_applied
    from .ivm import append_index, keep_first

    epoch_table = f"{idx_table}__applied_epoch"
    if batch.isEmpty():
        return
    if epoch_already_applied(wh, epoch_table, epoch_id):
        return

    spark = batch.sparkSession
    firsts = keep_first(
        batch.withColumn("content_fp", _fingerprint()), "content_fp"
    ).drop("content_fp")

    win_expr = (
        f"transform(slice(t, 1, greatest(size(t) - {SUB_K} + 1, 0)), "
        f"(x, i) -> md5(concat_ws(' ', slice(t, i + 1, {SUB_K}))))"
    )
    wins = (
        firsts.select("doc_id", F.expr(_SUB_TOKS_SPARK).alias("t"))
        .select("doc_id", F.explode(F.expr(win_expr)).alias("h"))
        .localCheckpoint()  # probe + per-doc counts + index delta
    )

    if wh.table_exists(idx_table):
        probe = wins.select("h").distinct()
        matched = (
            wh.read(idx_table)
            .join(F.broadcast(probe), "h")
            .select("h")
            .distinct()
            .localCheckpoint()  # overlap count + novel-digest anti both use it
        )
    else:
        matched = spark.createDataFrame([], "h string").localCheckpoint()

    # rejection, not admission, is the joined condition: a document too
    # short to yield any window has nothing to overlap and passes freely
    rejected = (
        wins.join(F.broadcast(matched.withColumn("hit", F.lit(1))), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .filter(F.col("n_hit") > F.lit(float(max_overlap)) * F.col("n_win"))
        .select("doc_id")
    )
    admitted = firsts.join(
        F.broadcast(rejected), "doc_id", "left_anti"
    ).localCheckpoint()

    novel_digests = (
        wins.join(F.broadcast(admitted.select("doc_id")), "doc_id")
        .select("h")
        .distinct()
        .join(F.broadcast(matched), "h", "left_anti")
    )
    append_index(wh, out_table, admitted, mark=f"e{epoch_id}")
    append_index(wh, idx_table, novel_digests, mark=f"e{epoch_id}")
    mark_epoch_applied(wh, epoch_table, spark, epoch_id)


def maintain_substring_gate_stream(
    stream: DataFrame,
    wh,
    idx_table: str,
    out_table: str,
    checkpoint_dir: str,
    max_overlap: float = 0.5,
    available_now: bool = True,
):
    """Continuously admit documents whose substring overlap with the
    already-admitted corpus stays at or below ``max_overlap`` (columns:
    ``doc_id``, ``text``). State = the window-digest table itself —
    queryable, restart-surviving, shared with the batch operator."""
    return start_foreach_batch(
        stream,
        lambda b, e: apply_substring_gate_epoch(
            wh, idx_table, out_table, b, e, max_overlap
        ),
        checkpoint_dir,
        available_now,
    )


# ------------------------------------------ semantic novelty admission ----
#
# The streaming face of ``emb_semantic_gate`` (operators/dedup.py): a
# vector is admitted iff no PREVIOUSLY SEEN vector in the same coarse
# block (label = the LSH/IVF coarse-partition stand-in) is within
# COSINE_THRESHOLD. "Seen", not "admitted": the prior-admitted criterion
# is a sequential greedy whose verdict on v depends recursively on every
# earlier admission — it cannot be evaluated epoch-parallel. Prior-seen
# is order-free per row, so over a vec_id-ordered feed the admitted set
# equals the batch query at ANY epoch slicing: earlier epochs are exactly
# the smaller vec_ids in the standing index, and same-epoch earlier
# arrivals are covered by an in-batch (small x small) block-local pair
# join. Index discipline as everywhere in this module: the standing
# vector index is never shuffled or broadcast — the micro-batch broadcasts
# into a block-keyed probe join and only matched vec_ids come back.
# O(batch x block-density) per epoch.

def apply_semantic_gate_epoch(
    wh,
    idx_table: str,
    out_table: str,
    batch: DataFrame,
    epoch_id: int,
    tau: float | None = None,
) -> None:
    """One idempotent epoch of semantic-novelty gated admission.

    ``batch`` columns: ``vec_id``, ``label``, ``embedding``
    (array<float/double>). All batch vectors extend the SEEN index;
    only novel ones (no seen or earlier-in-batch neighbor >= tau in
    their block) are admitted to ``out_table``.
    """
    from ..operators.dedup import _SPARK_DOT, _SPARK_NORM, COSINE_THRESHOLD
    from ..writer import epoch_already_applied, mark_epoch_applied
    from .ivm import append_index

    if tau is None:
        tau = COSINE_THRESHOLD
    epoch_table = f"{idx_table}__applied_epoch"
    if batch.isEmpty():
        return
    if epoch_already_applied(wh, epoch_table, epoch_id):
        return

    spark = batch.sparkSession
    vecs = batch.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
        F.expr(_SPARK_NORM).alias("nrm"),
    ).localCheckpoint()  # standing probe + both self-join sides + appends

    def _cos(a: str, b: str) -> F.Column:
        return F.expr(_SPARK_DOT.format(a=f"{a}.emb", b=f"{b}.emb")) / (
            F.col(f"{a}.nrm") * F.col(f"{b}.nrm")
        )

    if wh.table_exists(idx_table):
        # standing index stays put; the (small) batch broadcasts into a
        # block-keyed probe, only hit vec_ids come back
        hit_standing = (
            wh.read(idx_table)
            .alias("a")
            .join(F.broadcast(vecs.alias("b")), "label")
            .filter(_cos("a", "b") >= tau)
            .select(F.col("b.vec_id").alias("vec_id"))
            .distinct()
        )
    else:
        hit_standing = spark.createDataFrame([], "vec_id long")

    hit_in_batch = (
        vecs.alias("a")
        .join(
            vecs.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(_cos("a", "b") >= tau)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    rejected = hit_standing.unionByName(hit_in_batch).distinct()
    admitted = vecs.join(F.broadcast(rejected), "vec_id", "left_anti")

    append_index(wh, out_table, admitted, mark=f"e{epoch_id}")
    # prior-SEEN: rejected rows too
    append_index(wh, idx_table, vecs, mark=f"e{epoch_id}")
    mark_epoch_applied(wh, epoch_table, spark, epoch_id)


def maintain_semantic_gate_stream(
    stream: DataFrame,
    wh,
    idx_table: str,
    out_table: str,
    checkpoint_dir: str,
    tau: float | None = None,
    available_now: bool = True,
):
    """Continuously admit only semantically novel vectors from ``stream``
    (columns ``vec_id``, ``label``, ``embedding``): the streaming face of
    ``emb_semantic_gate``. State = the seen-vector table itself —
    queryable, restart-surviving, shared with the batch engine; nothing
    lives in the state store."""
    return start_foreach_batch(
        stream,
        lambda b, e: apply_semantic_gate_epoch(
            wh, idx_table, out_table, b, e, tau
        ),
        checkpoint_dir,
        available_now,
    )


# ------------------------------------------- counts-table maintenance -----
#
# Streaming face of the persisted shingle-count front end (round 9):
# each micro-batch of appended documents folds its (doc_id, shingle_h,
# cnt) rows into the counts state via the SAME maintain_shingle_counts
# the batch path uses — the tokenize/shingle/count map stage every
# set-Jaccard consumer shares becomes ingest-time work instead of
# query-time work. Replay-safe twice over with NO epoch sidecar:
# already-counted doc_ids drop in the state's own anti-join, and a
# half-applied epoch writes only generation-scoped files invisible
# until the manifest commit. Auto-compaction bounds the generation
# union under continuous ingest.


def maintain_counts_stream(
    stream,
    state_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously maintain the shingle-count table for an append-only
    document stream (columns ``doc_id, text``) against the counts state
    at ``state_root`` (created by ``build_shingle_counts``). Like the
    labels stream, the state IS the queryable table — nothing lives in
    the Spark state store, restarts resume from the manifest, and every
    batch consumer (ngram/weighted Jaccard, threshold curve, prefix
    filter, containment) shares it."""
    from ..operators.dedup import maintain_shingle_counts

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            maintain_shingle_counts(
                batch.sparkSession, batch.select("doc_id", "text"), state_root
            )

    return start_foreach_batch(stream, epoch, checkpoint_dir, available_now)
