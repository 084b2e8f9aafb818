"""Contract of the shared state lifecycle (``state.StateRoot``), checked
on a toy family: plain Python callables over a tmp dir, no Spark.

The toy state keeps one appended artifact kind, ``rows``: generation
``g`` holds a ``part`` file with the source files folded at ``g``; the
served value is the union of generations ``base_gen..gen``."""

from __future__ import annotations

import os
import threading
import time

import pytest

from conduit_connector_s3_iceberg_spark.state import (
    AUTO_COMPACT_GENS,
    FoldDeclined,
    StateRoot,
    corpus_snapshot,
    gen_dir,
    maintenance_lease,
    read_manifest,
    stamp_manifest,
)


class Toy:
    """A toy family over source dir ``src``: records every build and
    fold so tests can assert what the lifecycle ran."""

    def __init__(self, tmp_path, single_file=False):
        self.single_file = single_file
        self.src = str(tmp_path / ("src.txt" if single_file else "src"))
        self.root = str(tmp_path / "state")
        self.builds = 0
        self.folds: list[list[str]] = []
        self.fail_fold = False
        os.makedirs(tmp_path if single_file else self.src, exist_ok=True)

    def add(self, name, text):
        path = self.src if self.single_file else os.path.join(self.src, name)
        with open(path, "w") as fh:
            fh.write(text)

    def _stage(self, gen, names):
        d = gen_dir(self.root, "rows", gen)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part"), "w") as fh:
            fh.write("\n".join(names))

    def _all(self):
        return sorted(corpus_snapshot(self.src))

    def state(self):
        def build():
            self.builds += 1
            time.sleep(0.2)  # widen the race window for the thread test
            self._stage(0, self._all())
            return {"gen": 0, "base_gen": 0}

        def fold(man, new):
            self._stage(man["gen"] + 1, new)
            if self.fail_fold:
                raise RuntimeError("crash between staging and commit")
            if any(n.startswith("bad") for n in new):
                raise FoldDeclined("bad delta")
            self.folds.append(list(new))
            return {**man, "gen": man["gen"] + 1}

        def compact(man, gen):
            self._stage(gen, self.served(man))
            return {"grace_floor": man.get("base_gen", 0)}

        return StateRoot(
            self.root, "toy state", build=build, fold=fold, compact=compact,
            kinds=("rows",), hint="build it first",
        )

    def ensure(self):
        return self.state().ensure(
            lambda: corpus_snapshot(self.src),
            lambda new: new,
            appendable=not self.single_file,
        )

    def served(self, man):
        out = []
        for g in range(man.get("base_gen", 0), man["gen"] + 1):
            with open(os.path.join(gen_dir(self.root, "rows", g), "part")) as fh:
                out += [x for x in fh.read().split("\n") if x]
        return sorted(out)


def _bump(path):
    """Rewrite a file with new content and a moved mtime."""
    with open(path, "a") as fh:
        fh.write("!")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_unchanged_snapshot_serves_without_the_lease(tmp_path):
    toy = Toy(tmp_path)
    toy.add("a", "1")
    man = toy.ensure()
    got = {}
    with maintenance_lease(toy.root):
        t = threading.Thread(target=lambda: got.update(man=toy.ensure()))
        t.start()
        t.join(10)
        assert not t.is_alive(), "warm ensure waited on the lease"
    assert got["man"] == man and toy.builds == 1


def test_append_folds_exactly_the_new_files(tmp_path):
    toy = Toy(tmp_path)
    toy.add("a", "1")
    toy.ensure()
    toy.add("b", "2")
    toy.add("c", "3")
    man = toy.ensure()
    assert toy.builds == 1 and toy.folds == [["b", "c"]]
    assert man["gen"] == 1 and toy.served(man) == ["a", "b", "c"]
    assert read_manifest(toy.root)["files"] == corpus_snapshot(toy.src)


def test_rewrite_and_single_file_source_rebuild(tmp_path):
    toy = Toy(tmp_path)
    toy.add("a", "1")
    toy.ensure()
    toy.add("b", "2")
    _bump(os.path.join(toy.src, "a"))
    man = toy.ensure()
    assert toy.builds == 2 and toy.folds == [] and man["gen"] == 0

    one = Toy(tmp_path / "single", single_file=True)
    one.add("src.txt", "1")
    one.ensure()
    _bump(one.src)
    assert one.ensure()["gen"] == 0 and one.builds == 2 and one.folds == []


def test_declined_fold_rebuilds_on_the_file_path(tmp_path):
    toy = Toy(tmp_path)
    toy.add("a", "1")
    toy.ensure()
    toy.add("bad", "2")
    man = toy.ensure()
    assert toy.builds == 2 and man["gen"] == 0
    assert toy.served(man) == ["a", "bad"]


def test_two_threads_ensuring_a_rewritten_source_build_once(tmp_path):
    toy = Toy(tmp_path)
    toy.add("a", "1")
    toy.ensure()
    _bump(os.path.join(toy.src, "a"))
    threads = [threading.Thread(target=toy.ensure) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
        assert not t.is_alive()
    assert toy.builds == 2, "the second ensure must re-read under the lease"


def test_fold_crash_keeps_old_manifest_and_retry_succeeds(tmp_path):
    toy = Toy(tmp_path)
    toy.add("a", "1")
    before = toy.ensure()
    toy.add("b", "2")
    toy.fail_fold = True
    with pytest.raises(RuntimeError):
        toy.ensure()
    # the staged gen_1 is on disk but unnamed: readers still see gen 0
    assert os.path.isdir(gen_dir(toy.root, "rows", 1))
    assert read_manifest(toy.root) == before
    assert toy.served(read_manifest(toy.root)) == ["a"]
    toy.fail_fold = False
    man = toy.ensure()
    assert man["gen"] == 1 and toy.served(man) == ["a", "b"]


def test_row_level_maintain(tmp_path):
    toy = Toy(tmp_path)
    with pytest.raises(ValueError, match="no toy state at .*; build it first"):
        toy.state().maintain(["x"])
    toy.add("a", "1")
    toy.ensure()
    man = toy.state().maintain(["x"])
    assert man["gen"] == 1 and toy.served(man) == ["a", "x"]
    # the recorded snapshot is kept when the row path passes none
    assert man["files"] == corpus_snapshot(toy.src)
    # a declined row-level fold raises its reason instead of rebuilding
    with pytest.raises(ValueError, match="bad delta"):
        toy.state().maintain(["bad1"])
    assert toy.builds == 1


def test_auto_compaction_advances_base_and_expires_below_grace(tmp_path):
    toy = Toy(tmp_path)
    toy.add("a", "1")
    toy.ensure()
    assert AUTO_COMPACT_GENS == 8
    stamp_manifest(toy.root, auto_compact_gens=2)
    gens_dir = os.path.join(toy.root, "rows")
    man = toy.state().maintain(["x1"])  # width 2: no compaction yet
    assert man["gen"] == 1 and man["base_gen"] == 0
    man = toy.state().maintain(["x2"])  # width 3 > 2: compact to gen 3
    assert man["base_gen"] == man["gen"] == 3 and man["grace_floor"] == 0
    # first compaction: nothing is below the grace floor (old base 0)
    assert sorted(os.listdir(gens_dir)) == [f"gen_{g}" for g in range(4)]
    toy.state().maintain(["x3"])
    man = toy.state().maintain(["x4"])  # width 3 again: compact to gen 6
    assert man["base_gen"] == 6 and man["grace_floor"] == 3
    # only generations below the previous base (3) are deleted
    assert sorted(os.listdir(gens_dir)) == [f"gen_{g}" for g in range(3, 7)]
    assert toy.served(man) == ["a", "x1", "x2", "x3", "x4"]


# ------------------------------------------ lock-free warm serve, per family

from test_round11_graph_state import SF  # noqa: E402 (the sf0.001 fixture)


def _families():
    """(family, state roots, ensure call) for the seven persisted-state
    families, with the variants the registry queries ask for."""
    from conduit_connector_s3_iceberg_spark.operators import (
        dedup,
        graph_state,
        gt_topk,
        lm_state,
        similarity,
    )

    modes = ("static", "trained", "trained_multi")
    return {
        "dedup_labels": (
            [dedup.dedup_table_path(SF)],
            lambda s: dedup.ensure_dedup_table(s, SF),
        ),
        "shingle_counts": (
            [dedup.shingle_counts_path(SF)],
            lambda s: dedup.ensure_shingle_counts(s, SF),
        ),
        "graph": (
            [graph_state.graph_state_path(SF)],
            lambda s: graph_state.ensure_graph_state(
                s, SF, need=("fix", "cp_top")
            ),
        ),
        "token_counts": (
            [lm_state.token_counts_path(SF)],
            lambda s: lm_state.ensure_token_counts(s, SF),
        ),
        "gt_topk": (
            [gt_topk.gt_topk_path(SF)],
            lambda s: gt_topk.ensure_gt_topk(s, SF),
        ),
        "ann_index": (
            [similarity.ann_index_path(SF, m) for m in modes],
            lambda s: [similarity.ensure_ann_index(s, SF, mode=m) for m in modes],
        ),
        "semdedup": (
            [similarity.semdedup_state_path(SF)],
            lambda s: similarity.ensure_semdedup_state(s, SF),
        ),
    }


@pytest.mark.parametrize(
    "family",
    [
        "dedup_labels",
        "shingle_counts",
        "graph",
        "token_counts",
        "gt_topk",
        "ann_index",
        "semdedup",
    ],
)
def test_warm_ensure_takes_no_lease(spark, family):
    """A fresh state root serves while another maintainer holds its
    lease: readers never wait on maintenance."""
    import contextlib

    roots, ensure = _families()[family]
    ensure(spark)  # build or fold once, so the next call is warm
    done = threading.Event()
    with contextlib.ExitStack() as held:
        for root in roots:
            held.enter_context(maintenance_lease(root))
        t = threading.Thread(target=lambda: (ensure(spark), done.set()))
        t.start()
        t.join(30)
        assert done.is_set(), f"{family} warm ensure waited on the lease"
    t.join(600)
    assert not t.is_alive()
