"""Persisted graph state (round-11 verdict item #1).

Covers the full state protocol on the trade graph: full build, O(delta)
file-append maintenance (okc-keyed, zero standing-corpus reads),
no-op/replay appends, FK-orphan rebuild fallback, auto-compaction with
expiry, and the streaming twin's batch==stream equality across a
checkpoint restart. Served rank/label tables are compared bit-for-bit
against the from-scratch fixpoints (``_pagerank_from_edges`` over
``_cs_edges``) — the same exact scaled-BIGINT folds, so equality is
exact, not approximate.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from conduit_connector_s3_iceberg_spark.operators import graph_state as gs
from conduit_connector_s3_iceberg_spark.operators.graph import (
    _cs_edges,
    _harmonic_from_edges,
    _lpa_from_edges,
    _pagerank_from_edges,
    _ppr_from_edges,
)
from conduit_connector_s3_iceberg_spark.state import read_manifest, stamp_manifest

SF = "/root/testdata/sf0.001"


def _move_parts(df, table_dir: str, name: str) -> None:
    """Write ``df`` and move its part files into ``table_dir`` (append =
    new files, old files untouched — the corpus-append contract)."""
    stage = table_dir + f".stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    os.makedirs(table_dir, exist_ok=True)
    for i, part in enumerate(sorted(glob.glob(os.path.join(stage, "part-*")))):
        shutil.move(part, os.path.join(table_dir, f"{name}_{i}.parquet"))
    shutil.rmtree(stage, ignore_errors=True)


def _stage_corpus(spark, tmp_path, delta_pred=None):
    """Stage sf0.001 into a tmp corpus dir. With ``delta_pred`` (a SQL
    predicate over o_orderkey), the matching FK-complete order slice is
    RETURNED as (orders_df, lineitem_df) instead of staged — the test's
    append payload."""
    sf_dir = str(tmp_path / "corpus")
    os.makedirs(sf_dir)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    shutil.copy(
        f"{SF}/supplier.parquet", os.path.join(sf_dir, "supplier.parquet")
    )
    if delta_pred is None:
        _move_parts(orders, os.path.join(sf_dir, "orders.parquet"), "base")
        _move_parts(li, os.path.join(sf_dir, "lineitem.parquet"), "base")
        return sf_dir, None, None
    d_orders = orders.filter(F.expr(delta_pred))
    b_orders = orders.filter(~F.expr(delta_pred))
    d_li = li.join(d_orders.select("o_orderkey"),
                   li.l_orderkey == F.col("o_orderkey")).drop("o_orderkey")
    b_li = li.join(b_orders.select("o_orderkey"),
                   li.l_orderkey == F.col("o_orderkey")).drop("o_orderkey")
    _move_parts(b_orders, os.path.join(sf_dir, "orders.parquet"), "base")
    _move_parts(b_li, os.path.join(sf_dir, "lineitem.parquet"), "base")
    return sf_dir, d_orders, d_li


def _scratch(spark, sf_dir):
    """From-scratch fixpoints over the corpus at sf_dir."""
    edges = _cs_edges(spark, sf_dir).localCheckpoint(eager=False)
    return (
        sorted(map(tuple, _pagerank_from_edges(edges).collect())),
        sorted(map(tuple, _ppr_from_edges(edges).collect())),
        sorted(map(tuple, _lpa_from_edges(edges).collect())),
        sorted(map(tuple, _harmonic_from_edges(edges).collect())),
    )


def _served(spark, sf_dir):
    return (
        sorted(map(tuple, gs.serve_pagerank(spark, sf_dir).collect())),
        sorted(map(tuple, gs.serve_ppr(spark, sf_dir).collect())),
        sorted(map(tuple, gs.serve_lpa(spark, sf_dir).collect())),
        sorted(map(tuple, gs.serve_harmonic(spark, sf_dir).collect())),
    )


@pytest.fixture()
def isolated_root(tmp_path, monkeypatch):
    """Point the state root at the test's tmp dir so tests never touch
    the shared spark-warehouse roots."""
    def _path(sf_dir):
        import hashlib

        key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
        return str(tmp_path / "graph_state" / key)

    monkeypatch.setattr(gs, "graph_state_path", _path)
    return tmp_path


def test_build_serves_exact_fixpoints(spark, tmp_path, isolated_root):
    sf_dir, _, _ = _stage_corpus(spark, tmp_path)
    assert _served(spark, sf_dir) == _scratch(spark, sf_dir)
    man = read_manifest(gs.graph_state_path(sf_dir))
    assert man["gen"] == 0 and man["fix_gen"] == 0


def test_append_maintains_odelta_and_matches_scratch(
    spark, tmp_path, isolated_root
):
    sf_dir, d_orders, d_li = _stage_corpus(
        spark, tmp_path, "o_orderkey % 4 = 0"
    )
    gs.ensure_graph_state(spark, sf_dir)  # build on the base slice
    root = gs.graph_state_path(sf_dir)
    g0_edges = set(glob.glob(os.path.join(root, "edges", "gen_0", "*")))

    _move_parts(d_orders, os.path.join(sf_dir, "orders.parquet"), "d1")
    _move_parts(d_li, os.path.join(sf_dir, "lineitem.parquet"), "d1")
    got = _served(spark, sf_dir)  # triggers the appended path
    man = read_manifest(root)
    assert man["gen"] == 1 and man["fix_gen"] == 1, (
        "append must maintain in place, not rebuild"
    )
    # gen 0 files untouched (maintenance appended a generation)
    assert set(glob.glob(os.path.join(root, "edges", "gen_0", "*"))) == g0_edges
    assert got == _scratch(spark, sf_dir)
    # audit invariant: union of edge generations is duplicate-free
    edges = gs.serve_edges(spark, sf_dir)
    assert edges.count() == edges.distinct().count()


def test_replay_append_is_noop_for_fixpoints(spark, tmp_path, isolated_root):
    sf_dir, _, _ = _stage_corpus(spark, tmp_path)
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)
    before = _served(spark, sf_dir)
    # re-deliver ALREADY-PRESENT rows as new files (CDC replay)
    replay_o = spark.read.parquet(f"{SF}/orders.parquet").limit(50)
    replay_l = spark.read.parquet(f"{SF}/lineitem.parquet").limit(80)
    _move_parts(replay_o, os.path.join(sf_dir, "orders.parquet"), "replay")
    _move_parts(replay_l, os.path.join(sf_dir, "lineitem.parquet"), "replay")
    assert _served(spark, sf_dir) == before
    man = read_manifest(root)
    assert man["gen"] == 1
    assert man["fix_gen"] == 0, "no new edges => no fixpoint refresh"


def test_fk_orphan_degrades_to_rebuild(spark, tmp_path, isolated_root):
    sf_dir, _, _ = _stage_corpus(spark, tmp_path)
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)
    # lineitems referencing an order that exists nowhere
    orphan = spark.createDataFrame(
        [(10_000_000, 0, 0)],
        "l_orderkey bigint, l_suppkey bigint, l_partkey bigint",
    )
    _move_parts(orphan, os.path.join(sf_dir, "lineitem.parquet"), "orphan")
    got = _served(spark, sf_dir)
    man = read_manifest(root)
    assert man["gen"] == 0, "orphan delta must degrade to a full rebuild"
    # rebuild joins orders⋈lineitem, so the orphan drops out naturally
    assert got == _scratch(spark, sf_dir)


def test_autocompaction_advances_base_gen_and_expires(
    spark, tmp_path, isolated_root
):
    sf_dir, d_orders, d_li = _stage_corpus(
        spark, tmp_path, "o_orderkey % 4 < 2"
    )
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)
    stamp_manifest(root, auto_compact_gens=2)
    d0 = d_orders.filter("o_orderkey % 4 = 0")
    l0 = d_li.join(d0.select(F.col("o_orderkey").alias("k")),
                   d_li.l_orderkey == F.col("k")).drop("k")
    d1 = d_orders.filter("o_orderkey % 4 = 1")
    l1 = d_li.join(d1.select(F.col("o_orderkey").alias("k")),
                   d_li.l_orderkey == F.col("k")).drop("k")
    for name, (o, l) in {"d0": (d0, l0), "d1": (d1, l1)}.items():
        _move_parts(o, os.path.join(sf_dir, "orders.parquet"), name)
        _move_parts(l, os.path.join(sf_dir, "lineitem.parquet"), name)
        gs.ensure_graph_state(spark, sf_dir)
    man = read_manifest(root)
    assert man["base_gen"] > 0, "compaction must advance base_gen"
    # expired generations are gone from disk
    live = {
        int(p.rsplit("_", 1)[1])
        for p in glob.glob(os.path.join(root, "edges", "gen_*"))
    }
    assert live == set(range(man["base_gen"], man["gen"] + 1))
    assert _served(spark, sf_dir) == _scratch(spark, sf_dir)


def test_stream_twin_equals_batch_across_restart(
    spark, tmp_path, isolated_root
):
    """Build on the head slice, stream the tail as TWO availableNow
    epochs with a checkpoint restart between them, then compare the
    state-served fixpoints against a from-scratch compute over the FULL
    corpus (the original sf0.001)."""
    from conduit_connector_s3_iceberg_spark.streaming.graph_stream import (
        GRAPH_STREAM_SCHEMA,
        maintain_graph_stream,
    )

    sf_dir, d_orders, d_li = _stage_corpus(
        spark, tmp_path, "o_orderkey % 3 = 0"
    )
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)

    def slice_records(pred):
        o = d_orders.filter(pred).select(
            F.lit("order").alias("kind"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_custkey").alias("ck"),
            F.lit(None).cast("bigint").alias("sk"),
            F.lit(None).cast("bigint").alias("pk"),
        )
        l = d_li.filter(pred.replace("o_orderkey", "l_orderkey")).select(
            F.lit("lineitem").alias("kind"),
            F.col("l_orderkey").alias("okey"),
            F.lit(None).cast("bigint").alias("ck"),
            F.col("l_suppkey").alias("sk"),
            F.col("l_partkey").alias("pk"),
        )
        return o.unionByName(l)

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_graph")

    def run_epoch():
        q = maintain_graph_stream(
            spark.readStream.schema(GRAPH_STREAM_SCHEMA).parquet(
                str(src_dir)
            ),
            root,
            ckpt,
        )
        q.awaitTermination(180)

    _move_parts(
        slice_records("o_orderkey % 2 = 0"), str(src_dir), "e0"
    )
    run_epoch()
    _move_parts(
        slice_records("o_orderkey % 2 = 1"), str(src_dir), "e1"
    )
    run_epoch()  # restart from the checkpoint

    # round 13: epochs are O(delta)+O(touched) — they record staleness
    # instead of refreshing the fixpoints, so after two growth epochs
    # the fix pointer still sits at the build's generation
    man = read_manifest(root)
    assert man["fix_gen"] == 0 and man["edges_grew_gen"] == man["gen"]
    # the cadence call freshens everything stale under the lease
    gs.refresh_graph_state(spark, root)

    # the streamed state now covers the whole original corpus
    man = read_manifest(root)
    assert man["fix_gen"] == man["gen"]
    served = tuple(
        sorted(map(tuple, spark.read.parquet(
            os.path.join(root, kind, f"gen_{man['fix_gen']}")
        ).collect()))
        for kind in ("ranks_pr", "ranks_ppr", "labels_lpa", "harmonic")
    )
    assert served == _scratch(spark, SF)


def test_row_level_maintain_rejects_orphans(spark, tmp_path, isolated_root):
    sf_dir, _, _ = _stage_corpus(spark, tmp_path)
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)
    empty_o = spark.createDataFrame([], "okey bigint, ck bigint")
    orphan_l = spark.createDataFrame(
        [(10_000_000, 0, 0)], "okey bigint, sk bigint, pk bigint"
    )
    with pytest.raises(ValueError, match="FK-complete"):
        gs.maintain_graph_delta(spark, empty_o, orphan_l, root)
    # the failed epoch staged nothing visible: manifest unchanged
    assert read_manifest(root)["gen"] == 0


def test_warm_serve_reads_only_state_files(spark, tmp_path, isolated_root):
    """The warm path's input files are all under the state root — zero
    corpus scans (the shingle-counts warm-plan discipline)."""
    sf_dir, _, _ = _stage_corpus(spark, tmp_path)
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)
    for df in (
        gs.serve_pagerank(spark, sf_dir),
        gs.serve_ppr(spark, sf_dir),
        gs.serve_lpa(spark, sf_dir),
        gs.serve_harmonic(spark, sf_dir),
        gs.serve_edges(spark, sf_dir),
        gs.serve_cp_edges(spark, sf_dir),
        gs.serve_cp_pairs(spark, sf_dir),
        gs.serve_cp_cdeg(spark, sf_dir),
    ):
        files = df.inputFiles()
        assert files, "state tables must be non-empty"
        for f in files:
            assert root in f, f
            assert "corpus" not in f, f
