"""Round-13 verdict item #1: O(touched) graph-state maintenance.

cp_pairs/cp_cdeg are maintained by SIGNED ADJUSTMENT generations — the
per-part pair explode runs only over parts the delta touches — and the
O(graph) fixpoint / top-K refreshes are deferred to the first stale read
or the explicit ``refresh_graph_state`` cadence call. These tests pin:

* exactness of the adjustment fold, including the nastiest case — a part
  crossing LINK_DEG_CAP, which must RETRACT its standing contributions;
* the O(touched) scope witnesses: the staged cp_edges generation only
  writes the delta's hash buckets, and the adjustment generation only
  carries keys attributable to touched parts;
* maintenance does not rewrite the fixpoint/top-K artifacts (deferral),
  and the cadence call freshens them exactly once;
* auto-compaction folds the adjustment generations back to true counts
  (single live generation → fold-free warm read).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from conduit_connector_s3_iceberg_spark.operators import graph_state as gs
from conduit_connector_s3_iceberg_spark.operators.graph import LINK_DEG_CAP
from conduit_connector_s3_iceberg_spark.state import read_manifest, stamp_manifest

from test_round11_graph_state import (  # noqa: F401 (fixture re-export)
    SF,
    _move_parts,
    _stage_corpus,
    isolated_root,
)
from test_round12_cp_state import _cp_scratch


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _stage_synth(spark, tmp_path, near_cap: int):
    """Synthetic corpus: part 100 bought by customers 1..near_cap (one
    order each), part 200 by customers 1..3 (reusing their orders).
    Returns (sf_dir, delta_orders, delta_lineitems) with a delta that
    pushes part 100 to near_cap + 2 members."""
    import shutil

    sf_dir = str(tmp_path / "synth")
    os.makedirs(sf_dir)
    shutil.copy(f"{SF}/supplier.parquet", os.path.join(sf_dir, "supplier.parquet"))
    orders = spark.createDataFrame(
        [(i, i) for i in range(1, near_cap + 1)],
        "o_orderkey bigint, o_custkey bigint",
    )
    li = spark.createDataFrame(
        [(i, 1, 100) for i in range(1, near_cap + 1)]
        + [(i, 1, 200) for i in range(1, 4)],
        "l_orderkey bigint, l_suppkey bigint, l_partkey bigint",
    )
    _move_parts(orders, os.path.join(sf_dir, "orders.parquet"), "base")
    _move_parts(li, os.path.join(sf_dir, "lineitem.parquet"), "base")
    d_orders = spark.createDataFrame(
        [(near_cap + 1, near_cap + 1), (near_cap + 2, near_cap + 2)],
        "o_orderkey bigint, o_custkey bigint",
    )
    d_li = spark.createDataFrame(
        [(near_cap + 1, 1, 100), (near_cap + 2, 1, 100)],
        "l_orderkey bigint, l_suppkey bigint, l_partkey bigint",
    )
    return sf_dir, d_orders, d_li


def test_hub_cap_crossing_retracts_contributions(
    spark, tmp_path, isolated_root
):
    """A part at LINK_DEG_CAP members gains two more: its standing pair
    and degree contributions must be RETRACTED by the adjustment
    generation, leaving only the stable part's contributions."""
    sf_dir, d_orders, d_li = _stage_synth(spark, tmp_path, LINK_DEG_CAP)
    gs.ensure_graph_state(spark, sf_dir)
    # before: part 100 (deg=CAP) contributes C(CAP,2) pairs at sdeg=CAP
    pre = gs.serve_cp_pairs(spark, sf_dir)
    assert (
        pre.filter(F.col("sdeg") == LINK_DEG_CAP).count()
        == LINK_DEG_CAP * (LINK_DEG_CAP - 1) // 2
    )
    _move_parts(d_orders, os.path.join(sf_dir, "orders.parquet"), "d1")
    _move_parts(d_li, os.path.join(sf_dir, "lineitem.parquet"), "d1")
    got_pairs = _rows(gs.serve_cp_pairs(spark, sf_dir))
    got_cdeg = _rows(gs.serve_cp_cdeg(spark, sf_dir))
    man = read_manifest(gs.graph_state_path(sf_dir))
    assert man["gen"] == 1, "append must maintain, not rebuild"
    _, cdeg, pairs = _cp_scratch(spark, sf_dir)
    assert got_pairs == _rows(pairs)
    assert got_cdeg == _rows(cdeg)
    # part 100 is now a hub: only part 200's 3 pairs at sdeg=3 survive
    assert got_pairs == _rows(pairs.filter(F.col("sdeg") == 3))
    assert len(got_pairs) == 3


def test_adjustment_scope_is_touched_parts_only(
    spark, tmp_path, isolated_root
):
    """O(touched) witnesses on a real corpus slice: (1) the staged
    cp_edges generation holds only the delta's sb buckets; (2) every
    key in the staged cp_pairs adjustment is attributable to a touched
    part (it appears among the old or new contribution keys of the
    delta's parts)."""
    sf_dir, d_orders, d_li = _stage_corpus(
        spark, tmp_path, "o_orderkey % 17 = 0"
    )
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)
    _move_parts(d_orders, os.path.join(sf_dir, "orders.parquet"), "d1")
    _move_parts(d_li, os.path.join(sf_dir, "lineitem.parquet"), "d1")
    gs.ensure_graph_state(spark, sf_dir)

    # (1) bucket scope: staged partitions ⊆ the delta's part buckets
    new_cp = gs._read_cp_edges_dir(
        spark, os.path.join(root, "cp_edges", "gen_1")
    )
    touched_sb = {
        r[0]
        for r in new_cp.select("sb").distinct().collect()
    }
    on_disk_sb = {
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(root, "cp_edges", "gen_1", "sb=*"))
    }
    assert on_disk_sb == touched_sb

    # (2) key scope: adjustment keys all reference touched parts
    touched_parts = new_cp.select("s").distinct()
    cp_all, _, _ = _cp_scratch(spark, sf_dir)
    # every (c1, c2) key in the adjustment shares at least one TOUCHED
    # part between c1 and c2 (old or new membership)
    adj = spark.read.parquet(os.path.join(root, "cp_pairs", "gen_1"))
    touched_members = cp_all.join(touched_parts, "s")
    a = touched_members.select(F.col("c").alias("c1"), "s")
    b = touched_members.select(F.col("c").alias("c2"), "s")
    via_touched = a.join(b, "s").select("c1", "c2").distinct()
    orphan_keys = adj.select("c1", "c2").distinct().join(
        via_touched, ["c1", "c2"], "left_anti"
    )
    assert orphan_keys.isEmpty(), (
        "adjustment rows must only touch pair keys attributable to the "
        "delta's parts"
    )


def test_maintenance_defers_fix_and_top_refresh(
    spark, tmp_path, isolated_root
):
    """Maintenance must not rewrite the fixpoint/top-K dirs; the cadence
    call refreshes all stale families once and is then a no-op."""
    sf_dir, d_orders, d_li = _stage_corpus(
        spark, tmp_path, "o_orderkey % 9 = 0"
    )
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)

    def dir_state(kind):
        return sorted(
            (p, os.path.getmtime(p))
            for p in glob.glob(os.path.join(root, kind, "gen_*", "*"))
        )

    fix_before = {k: dir_state(k) for k in gs._FIX_KINDS + gs._CP_TOP_KINDS}
    _move_parts(d_orders, os.path.join(sf_dir, "orders.parquet"), "d1")
    _move_parts(d_li, os.path.join(sf_dir, "lineitem.parquet"), "d1")
    gs.ensure_graph_state(spark, sf_dir)  # maintain only, no need=
    man = read_manifest(root)
    assert man["edges_grew_gen"] == 1 and man["cp_grew_gen"] == 1
    assert man["fix_gen"] == 0 and man["cp_fix_gen"] == 0
    for k in gs._FIX_KINDS + gs._CP_TOP_KINDS:
        assert dir_state(k) == fix_before[k], (
            f"{k} must be untouched by maintenance"
        )

    man = gs.refresh_graph_state(spark, root)
    assert man["fix_gen"] == man["gen"] == 1
    assert man["cp_fix_gen"] == 1
    # fresh → the cadence call is a pure no-op (manifest unchanged)
    assert gs.refresh_graph_state(spark, root) == read_manifest(root)

    # grace: the superseded gen-0 fix dirs survive one refresh cycle
    for k in gs._FIX_KINDS + gs._CP_TOP_KINDS:
        assert os.path.isdir(os.path.join(root, k, "gen_0")), k


def test_compaction_folds_adjustments_to_true_counts(
    spark, tmp_path, isolated_root
):
    """Past the threshold, the adjustment generations fold into a single
    base generation holding TRUE counts, and the warm read skips the
    fold (single-path fast case)."""
    sf_dir, d_orders, d_li = _stage_corpus(
        spark, tmp_path, "o_orderkey % 4 < 2"
    )
    gs.ensure_graph_state(spark, sf_dir)
    root = gs.graph_state_path(sf_dir)
    stamp_manifest(root, auto_compact_gens=2)
    for i, pred in enumerate(("o_orderkey % 4 = 0", "o_orderkey % 4 = 1")):
        o = d_orders.filter(pred)
        l = d_li.join(
            o.select(F.col("o_orderkey").alias("k")),
            d_li.l_orderkey == F.col("k"),
        ).drop("k")
        _move_parts(o, os.path.join(sf_dir, "orders.parquet"), f"d{i}")
        _move_parts(l, os.path.join(sf_dir, "lineitem.parquet"), f"d{i}")
        gs.ensure_graph_state(spark, sf_dir)
    man = read_manifest(root)
    assert man["base_gen"] > 0, "compaction must advance base_gen"
    # compacted adjustment kind: exactly one live dir in [base..gen]
    live = [
        p
        for p in glob.glob(os.path.join(root, "cp_pairs", "gen_*"))
        if int(p.rsplit("_", 1)[1]) >= man["base_gen"]
    ]
    assert len(live) == 1
    # the compacted generation holds true counts: no negative rows
    folded = spark.read.parquet(live[0])
    assert folded.filter(F.col("cnt") <= 0).isEmpty()
    # and the folded read equals scratch
    _, cdeg, pairs = _cp_scratch(spark, sf_dir)
    assert _rows(gs.serve_cp_pairs(spark, sf_dir)) == _rows(pairs)
    assert _rows(gs.serve_cp_cdeg(spark, sf_dir)) == _rows(cdeg)


def test_multi_append_fold_matches_scratch(spark, tmp_path, isolated_root):
    """Three successive growth appends, folded reads stay exact and the
    trio of top tables refreshes to the from-scratch values."""
    from conduit_connector_s3_iceberg_spark.operators.graph import (
        graph_adamic_adar,
        graph_link_jaccard,
        graph_resource_allocation,
    )

    sf_dir, d_orders, d_li = _stage_corpus(
        spark, tmp_path, "o_orderkey % 4 < 3"
    )
    gs.ensure_graph_state(spark, sf_dir)
    for i in range(3):
        o = d_orders.filter(f"o_orderkey % 4 = {i}")
        l = d_li.join(
            o.select(F.col("o_orderkey").alias("k")),
            d_li.l_orderkey == F.col("k"),
        ).drop("k")
        _move_parts(o, os.path.join(sf_dir, "orders.parquet"), f"d{i}")
        _move_parts(l, os.path.join(sf_dir, "lineitem.parquet"), f"d{i}")
    _, cdeg, pairs = _cp_scratch(spark, sf_dir)
    assert _rows(gs.serve_cp_pairs(spark, sf_dir)) == _rows(pairs)
    assert _rows(gs.serve_cp_cdeg(spark, sf_dir)) == _rows(cdeg)
    # top tables: compare jaccard against the independent fold
    agg = pairs.groupBy("c1", "c2").agg(
        F.sum("cnt").cast("bigint").alias("cn")
    )
    expected = (
        agg.join(
            cdeg.select(F.col("c").alias("c1"), F.col("deg").alias("deg1")),
            "c1",
        )
        .join(
            cdeg.select(F.col("c").alias("c2"), F.col("deg").alias("deg2")),
            "c2",
        )
        .select(
            "c1",
            "c2",
            "cn",
            "deg1",
            "deg2",
            (
                F.col("cn").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "c1", "c2")
        .limit(100)
    )
    assert [tuple(r) for r in graph_link_jaccard(spark, sf_dir).collect()] == [
        tuple(r) for r in expected.collect()
    ]
    # ra/aa: positive scores, correct count, and cn consistency
    for q in (graph_resource_allocation, graph_adamic_adar):
        rows = q(spark, sf_dir).collect()
        assert 0 < len(rows) <= 100
        assert all(r["cn"] >= 1 for r in rows)
