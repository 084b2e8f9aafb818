"""Streaming semantic-dedup admission against a standing seen-vector index.

The streaming twin of ``emb_semdedup_admission`` (operators/similarity.py):
admit a vector iff no EARLIER-ARRIVED vector in its quantizer block is
within SEMDEDUP_TAU cosine (first-arrival wins). Arrival order is
(epoch, vec_id); because admission is MONOTONE in the seen-prefix SET —
a verdict never depends on whether the earlier witness was itself
admitted — the result is identical for any epoch slicing of the same
ordered stream, which is exactly the batch==stream equality contract:
when ingest follows vec_id (the corpus's monotone ingest key), N epochs
of this maintainer produce the same admitted set as one batch run of
``emb_semdedup_admission``. That monotonicity is also WHY the standing
index stores every SEEN vector, not only admitted ones.

Quantizer discipline: blocks come from ``sem_block_expr_frozen(mu,
nbits)`` — the quantizer is FROZEN at stream start (trained-IVF append
semantics: requantizing is a rebuild decision, never an implicit side
effect of ingest). ``sem_quantizer_stats`` freezes it from a reference
corpus.

Scale shape per epoch (the dedup_stream join discipline):

* the standing index is never shuffled or broadcast wholesale — the
  batch's DISTINCT BLOCKS (bounded by batch size) prune the index scan
  to exactly the touched block partitions, and the small batch side
  broadcasts into the probe join. Cost per epoch is O(batch x block
  population), not O(corpus).
* in-batch earlier-arrival witnesses are a block-equi self-join of the
  batch alone.
* all batch vectors append to the index (partitioned by block), admitted
  originals to the output table — both with the epoch commit mark, so a
  mid-epoch crash replays exactly the table that did not commit
  (ParquetWarehouse marks protocol; one MERGE transaction on Iceberg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import (
    SEMDEDUP_TAU,
    _SPARK_EMB_D,
    _SPARK_NORM,
    _spark_dot,
    sem_block_expr_frozen,
)
from .cdc import start_foreach_batch


def _prepared(batch: DataFrame, mu: list, nbits: int) -> DataFrame:
    """(vec_id, embedding, ...) -> (vec_id, emb, nrm, block) under the
    frozen quantizer."""
    return batch.select(
        "vec_id",
        F.expr(_SPARK_EMB_D).alias("emb"),
        F.expr(_SPARK_NORM).alias("nrm"),
    ).select(
        "vec_id",
        "emb",
        "nrm",
        F.expr(sem_block_expr_frozen(mu, nbits)).alias("block"),
    )


def apply_semdedup_epoch(
    wh,
    idx_table: str,
    out_table: str,
    batch: DataFrame,
    epoch_id: int,
    mu: list,
    nbits: int,
) -> None:
    """One idempotent epoch: quantize the batch, reject vectors with an
    earlier-arrived within-TAU witness (standing index, then lower-vec_id
    in-batch), append ALL batch vectors to the seen index and admitted
    originals to the output. Module-level so replay semantics are
    unit-testable."""
    from ..writer import epoch_already_applied, mark_epoch_applied

    epoch_table = f"{idx_table}__applied_epoch"
    if batch.isEmpty():
        return
    if epoch_already_applied(wh, epoch_table, epoch_id):
        return  # re-delivered epoch — already applied

    spark = batch.sparkSession
    sel = _prepared(batch, mu, nbits).localCheckpoint(eager=False)

    # bounded metadata collect: the batch's distinct blocks (<= batch
    # size) — prunes the standing-index scan to the touched partitions
    blocks = [int(r["block"]) for r in sel.select("block").distinct().collect()]

    rejected = None
    if wh.table_exists(idx_table):
        standing = wh.read(idx_table).filter(F.col("block").isin(blocks))
        probe = sel.select(
            F.col("vec_id").alias("v_id"),
            F.col("emb").alias("vemb"),
            F.col("nrm").alias("vnrm"),
            F.col("block").alias("vblock"),
        )
        cos_s = F.expr(_spark_dot("emb", "vemb")) / (
            F.col("nrm") * F.col("vnrm")
        )
        rejected = (
            standing.join(
                F.broadcast(probe), F.col("block") == F.col("vblock")
            )
            .filter(cos_s >= SEMDEDUP_TAU)
            .select(F.col("v_id").alias("vec_id"))
            .distinct()
        )

    u, v = sel.alias("u"), sel.alias("v")
    cos_b = F.expr(_spark_dot("u.emb", "v.emb")) / (
        F.col("u.nrm") * F.col("v.nrm")
    )
    rejected_inbatch = (
        u.join(
            v,
            (F.col("u.block") == F.col("v.block"))
            & (F.col("u.vec_id") < F.col("v.vec_id")),
        )
        .filter(cos_b >= SEMDEDUP_TAU)
        .select(F.col("v.vec_id").alias("vec_id"))
        .distinct()
    )
    rejected = (
        rejected_inbatch
        if rejected is None
        else rejected.unionByName(rejected_inbatch).distinct()
    )
    admitted = sel.join(F.broadcast(rejected), "vec_id", "left_anti")

    mark = f"e{epoch_id}"
    if not wh.table_exists(idx_table):
        wh.create_table(idx_table, sel.schema, partition_by=["block"])
    wh.append(idx_table, sel, mark=mark)  # every SEEN vector
    admitted_rows = batch.join(
        F.broadcast(admitted.select("vec_id")), "vec_id", "left_semi"
    )
    if not wh.table_exists(out_table):
        wh.create_table(out_table, admitted_rows.schema)
    wh.append(out_table, admitted_rows, mark=mark)
    mark_epoch_applied(wh, epoch_table, spark, epoch_id)


def maintain_semdedup_stream(
    stream: DataFrame,
    wh,
    idx_table: str,
    out_table: str,
    checkpoint_dir: str,
    mu: list,
    nbits: int,
    available_now: bool = True,
):
    """Continuously admit only semantically-novel vectors from ``stream``
    (columns must include ``vec_id`` and ``embedding``): the streaming
    face of SemDeDup admission. State = the seen-vector index table
    itself — O(1) per seen vector, block-partitioned, queryable, shared
    with the batch engine; nothing lives in the state store."""
    return start_foreach_batch(
        stream,
        lambda batch, epoch_id: apply_semdedup_epoch(
            wh, idx_table, out_table, batch, epoch_id, mu, nbits
        ),
        checkpoint_dir,
        available_now,
    )
