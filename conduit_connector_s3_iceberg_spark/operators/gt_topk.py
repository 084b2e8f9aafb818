"""Persisted exact ground-truth top-k for the ANN recall-audit family
(round-13 verdict item #3).

Every recall audit (``sim_ann_recall``, ``sim_trained_nprobe_curve``,
``sim_lsh_multiprobe_recall``, ``sim_ann_trained_recall``,
``sim_multistep_train_audit``) compared its index against an exact
brute-force top-k baseline recomputed PER QUERY — the single largest
remaining per-query cost center after round 12 (3.44 + 3.33 + 2.66 s at
sf0.1). The exact baseline depends only on the corpus snapshot, so this
module materializes it once per state generation under the shared
manifest protocol (``state.py``): top-``TOP_K`` cosine neighbours for
every probe ``vec_id < GT_QUERIES``, columns (query_id, vec_id, cosine,
rank).

Maintenance is O(delta · queries) and EXACT because the corpus is
append-only: a new vector can only ENTER a standing top-k, never change
existing scores — so appended vectors are scored against the bounded
query set (a broadcast of GT_QUERIES × DIM floats onto the delta scan)
and merged with the standing K rows per query by one re-rank.  A
replayed vector is harmless by construction: its score ties its standing
copy, duplicates collapse on (query_id, vec_id), and a vector that never
made top-k still cannot (the cut-off only rises as the corpus grows).
Appended vectors that are THEMSELVES new probes (vec_id < GT_QUERIES —
rare in practice) get a full-corpus pass for just those queries.  A
rewritten corpus rebuilds.

The artifact is audited three ways every sweep: ``sim_topk_bruteforce``
now SERVES from it while its oracle recomputes the full brute-force
answer in DuckDB (per-row byte audit of query/vector/cosine/rank), the
downstream recall audits re-derive their index sides in SQL against the
same from-scratch truth, and ``sim_gt_topk_audit`` pins the structural
invariants (row count, rank bijection, per-query cosine monotonicity).

At 100 TB this is the difference between one corpus-wide exact-search
pass per ingest generation and one per dashboard refresh × per audit
query — the same amortization argument as the IVF index itself, applied
to its own evaluation harness.

Reference scope note: the reference connector (~900 LoC Java CDC →
Iceberg destination) has no similarity surface; this is north-star
extension machinery on the engine's own state protocol.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..state import (
    FoldDeclined,
    StateRoot,
    corpus_snapshot,
    expire_generations,
    gen_dir,
    write_manifest,
)

GT_TOPK_VERSION = 2  # v2: persisted probe vectors (corpus-free maintenance)


def _defs():
    """The similarity-module definitions the persisted bytes depend on
    (lazy import — similarity imports this module lazily from its serve
    paths, so a top-level cross-import would be circular)."""
    from .similarity import (
        _SPARK_EMB_D,
        _SPARK_NORM,
        _spark_dot,
        _two_phase_topk,
        RECALL_QUERIES,
        TOP_K,
    )

    return _SPARK_EMB_D, _SPARK_NORM, _spark_dot, _two_phase_topk, \
        RECALL_QUERIES, TOP_K


def gt_topk_path(sf_dir: str) -> str:
    emb_d, nrm, dot, _, gtq, k = _defs()
    src = os.path.join(sf_dir, "embeddings.parquet")
    key = hashlib.sha256(
        f"v{GT_TOPK_VERSION}:{os.path.abspath(src)}:{k}:{gtq}:"
        f"{emb_d}:{nrm}:{dot('a', 'b')}".encode()
    ).hexdigest()[:16]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo_root, "spark-warehouse", "gt_topk", key)


def _emb_frame(df: DataFrame) -> DataFrame:
    emb_d, nrm, _, _, _, _ = _defs()
    return df.select(
        "vec_id", F.expr(emb_d).alias("emb"), F.expr(nrm).alias("nrm")
    )


def _queries_of(emb: DataFrame) -> DataFrame:
    _, _, _, _, gtq, _ = _defs()
    return emb.filter(F.col("vec_id") < gtq).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )


def _scored(cand: DataFrame, q: DataFrame) -> DataFrame:
    """(query_id, vec_id, cosine) of every candidate × query pair, self
    excluded — the broadcast shape of sim_topk_bruteforce."""
    _, _, dot, _, _, _ = _defs()
    return cand.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        (
            F.expr(dot("qemb", "emb")) / (F.col("qnrm") * F.col("nrm"))
        ).alias("cosine"),
    )


def _rank_topk(scored: DataFrame, base: DataFrame | None = None) -> DataFrame:
    _, _, _, two_phase, _, k = _defs()
    return two_phase(scored, k, base=base)


def _commit(root: str, man: dict) -> dict:
    """Commit, then expire with one-cycle grace (lock-free readers
    holding the previous manifest survive)."""
    man = write_manifest(root, man)
    keep = {max(0, man["gen"] - 1), man["gen"]}
    expire_generations(root, {"topk": keep, "probes": keep})
    return man


def _build(spark: SparkSession, sf_dir: str, root: str) -> dict:
    src = os.path.join(sf_dir, "embeddings.parquet")
    emb = _emb_frame(spark.read.parquet(src)).localCheckpoint(eager=False)
    q = _queries_of(emb)
    _rank_topk(_scored(emb, q), base=emb).write.mode("overwrite").parquet(
        gen_dir(root, "topk", 0)
    )
    # persist the probe vectors: maintenance scores deltas against THESE
    # (GT_QUERIES × DIM floats — bounded), so the O(delta·queries)
    # append path never re-reads the standing corpus, and the streaming
    # twin needs no corpus at all
    q.write.mode("overwrite").parquet(gen_dir(root, "probes", 0))
    return {"gen": 0}


def _fold(spark: SparkSession, root: str, man: dict, delta_in) -> dict:
    """Merge an append-only delta of (vec_id, emb, nrm) vectors into the
    standing truth (caller holds the lease); ``delta_in`` is (delta,
    corpus frame or None). O(delta · queries): deltas are scored
    against the PERSISTED probe vectors and merged with the
    standing K rows per query — exact because the corpus is append-only
    (scores of standing vectors never change; the cut-off only rises),
    and replay-safe because a re-delivered vector ties its standing copy
    and collapses on (query_id, vec_id).

    A delta vector that is itself a NEW probe (vec_id < GT_QUERIES)
    needs a full-corpus pass for its own truth rows: the file path
    passes the corpus frame and pays it for just those queries; the
    stream path has no corpus and the fold raises
    :class:`state.FoldDeclined` — the same degrade/enforce split as the
    graph state's FK-complete-slice contract."""
    delta, corpus_df = delta_in
    _, _, _, _, gtq, _ = _defs()
    standing = spark.read.parquet(gen_dir(root, "topk", man["gen"]))
    probes = spark.read.parquet(gen_dir(root, "probes", man["gen"]))

    # replay-drop for probe detection: a re-delivered probe vector is
    # not a NEW probe (its rows exist) — only ids absent from the
    # persisted probe set count
    new_probe = delta.filter(F.col("vec_id") < gtq).join(
        probes.select(F.col("query_id").alias("vec_id")),
        "vec_id",
        "left_anti",
    )
    new_q = new_probe.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    ).localCheckpoint(eager=False)
    have_new_probes = not new_q.isEmpty()
    if have_new_probes and corpus_df is None:
        raise FoldDeclined(
            "delta introduces new probe ids (vec_id < GT_QUERIES) — "
            "their truth rows need a corpus pass; rebuild via "
            "ensure_gt_topk on the corpus path"
        )

    cand_scores = _scored(delta, probes)
    probes_next = probes
    if have_new_probes:
        # full-corpus rows for just the new probes (delta rows for them
        # are subsumed — the corpus frame already contains the delta)
        cand_scores = cand_scores.unionByName(_scored(corpus_df, new_q))
        probes_next = probes.unionByName(new_q)

    merged = (
        standing.select("query_id", "vec_id", "cosine")
        .unionByName(cand_scores)
        .dropDuplicates(["query_id", "vec_id"])
    )
    gen = man["gen"] + 1
    _rank_topk(merged).write.mode("overwrite").parquet(
        gen_dir(root, "topk", gen)
    )
    probes_next.write.mode("overwrite").parquet(gen_dir(root, "probes", gen))
    return {**man, "gen": gen}


def _gt_state(
    spark: SparkSession, root: str, sf_dir: str | None = None
) -> StateRoot:
    """The ground-truth family on the shared ``state.StateRoot``
    lifecycle: single-generation ``topk``/``probes`` artifacts, no
    compaction."""
    return StateRoot(
        root,
        "ground-truth state",
        build=lambda: _build(spark, sf_dir, root),
        fold=lambda man, delta_in: _fold(spark, root, man, delta_in),
        commit=lambda man: _commit(root, man),
        hint="run ensure_gt_topk first",
    )


def maintain_gt_topk(
    spark: SparkSession, delta_emb: DataFrame, root: str
) -> dict:
    """Row-level O(delta·queries) maintenance — the streaming-twin entry
    point (``streaming/gt_stream.py`` drives it from foreachBatch
    epochs). ``delta_emb``: (vec_id, embedding) rows, append-only.
    Replay-safe (duplicate merges collapse). Raises ValueError when the
    delta introduces a NEW probe id: a stream has no corpus to derive
    the probe's own truth rows from, so the contract is enforced, not
    degraded."""
    delta = _emb_frame(delta_emb).localCheckpoint(eager=False)
    return _gt_state(spark, root).maintain((delta, None))


def ensure_gt_topk(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Serve the ground-truth top-k state root for ``sf_dir``, building
    or O(delta·queries)-appending as the snapshot dictates. Fast path
    takes no lock when the committed state is fresh."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    root = gt_topk_path(sf_dir)

    def read_delta(new: list[str]):
        delta = _emb_frame(
            spark.read.parquet(*[os.path.join(src, f) for f in new])
        ).localCheckpoint(eager=False)
        return delta, _emb_frame(spark.read.parquet(src))

    man = _gt_state(spark, root, sf_dir).ensure(
        lambda: corpus_snapshot(src),
        read_delta,
        appendable=not os.path.isfile(src),
    )
    return root, man


def serve_gt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, cosine, rank): the exact top-K cosine
    neighbours of every probe vec_id < GT_QUERIES — the shared truth
    table every recall audit joins against."""
    root, man = ensure_gt_topk(spark, sf_dir)
    return spark.read.parquet(gen_dir(root, "topk", man["gen"]))


def _audit_oracle() -> str:
    from .similarity import RECALL_QUERIES, TOP_K, _SQL_NORM, _sql_dot

    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, {_SQL_NORM} AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e
      WHERE vec_id < {RECALL_QUERIES}
    ), t AS (
      SELECT query_id, vec_id, cosine, rank FROM (
        SELECT q.query_id, e.vec_id,
               {_sql_dot('q.qemb', 'e.emb')} / (q.qnrm * e.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_dot('q.qemb', 'e.emb')} / (q.qnrm * e.nrm)
                          DESC, e.vec_id
               ) AS INTEGER) AS rank
        FROM q JOIN e ON e.vec_id <> q.query_id
      ) WHERE rank <= {TOP_K}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(SUM(rank) AS BIGINT) AS rank_mass,
           CAST(SUM(CAST(vec_id AS BIGINT) * rank) AS BIGINT)
             AS rank_vec_fold,
           CAST(MIN(cosine) AS DOUBLE) AS min_cosine,
           CAST(MAX(cosine) AS DOUBLE) AS max_cosine
    FROM t
    """


@query(
    "sim_gt_topk_audit",
    oracle=_audit_oracle(),
    doc="Persisted ground-truth top-k re-verified against a from-scratch "
        "brute-force recompute: row count, probe count, the rank mass "
        "(a bijection witness — per query, ranks must be exactly "
        "1..K), the rank-weighted vec_id fold (pins WHICH vector holds "
        "WHICH rank, not just the set), and the cosine range, all read "
        "from the artifact while the oracle re-derives them from the "
        "raw embeddings. The per-row bytes are separately audited by "
        "sim_topk_bruteforce's own oracle (the query serves from this "
        "artifact) every sweep.",
)
def sim_gt_topk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    gt = serve_gt_topk(spark, sf_dir)
    return gt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.sum("rank").cast("bigint").alias("rank_mass"),
        F.sum(F.col("vec_id").cast("bigint") * F.col("rank"))
        .cast("bigint")
        .alias("rank_vec_fold"),
        F.min("cosine").cast("double").alias("min_cosine"),
        F.max("cosine").cast("double").alias("max_cosine"),
    )
