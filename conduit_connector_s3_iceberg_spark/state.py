"""Generation-manifest state machinery shared by every persisted index.

Seven state roots persist derived data across query sessions: the dedup
labels table and the shingle counts (``operators/dedup.py``), the
SemDeDup seen-vector table and the cell-partitioned ANN index
(``operators/similarity.py``), the graph state
(``operators/graph_state.py``), the token counts
(``operators/lm_state.py``) and the ground-truth top-k
(``operators/gt_topk.py``). They all run ONE lifecycle,
:class:`StateRoot`, and this module owns it together with the
invariants it rests on:

* **Atomic manifest commit.** Every mutation stages its files into
  generation-scoped directories that no reader lists until the manifest
  names them, then replaces ``manifest.json`` via ``os.replace`` —
  readers see old-or-new, never a torn file or a half-applied write.
  (The parquet analogue of Iceberg's manifest-list commit,
  ``SparkUtils.java:45-51`` being the reference's Iceberg bootstrap.)
* **Snapshot-keyed freshness.** ``corpus_snapshot`` records per-file
  (size, mtime_ns); ``snapshot_delta`` classifies a corpus change as
  unchanged / pure-append / rewrite, which is what lets maintenance run
  O(delta) on appends and rebuild only on rewrites.
* **Serialized maintenance.** Writers take ``maintenance_lease``;
  readers never do.
* **Coherence checking.** When a state root and a separate staging area
  must agree (the maintenance demo), the manifest carries a phase stamp
  (``stamp_manifest``) and readers verify it before serving — deleting
  one root but not the other restages instead of silently serving a
  wrong diff.
* **Generation expiry.** ``expire_generations`` deletes generation
  directories the manifest no longer reaches (gens below ``base_gen``
  after compaction, orphans from crashed writers above ``gen``), so
  compaction actually reclaims space instead of leaving every historical
  generation on disk forever.

The lifecycle (:meth:`StateRoot.ensure` for corpus-driven serving,
:meth:`StateRoot.maintain` for row-level deltas): serve lock-free while
the manifest's snapshot is unchanged; otherwise take the lease, re-read
the manifest, classify the change, fold the appended files or rebuild
on a rewrite (or a single-file source), run the family's optional
post-step, and after a fold auto-compact once the live generation width
passes the manifest's ``auto_compact_gens`` (default
:data:`AUTO_COMPACT_GENS`), expiring with one compaction cycle of grace.
A family supplies only its snapshot, ``build()``, ``fold(man, delta)``,
compaction rewrite and artifact kinds; a fold that declines its delta
(:class:`FoldDeclined`) makes the file path rebuild and the row-level
path raise.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time

_FP_BYTES = 4096  # bounded per-file fingerprint: first+last 4 KiB


def _file_fingerprint(path: str, size: int) -> str:
    """Cheap content fingerprint: blake2b over the first and last 4 KiB
    plus the length. O(1) I/O per file regardless of size — enough to
    catch a same-size same-mtime rewrite (``rsync -t`` / ``cp -p`` of a
    same-length edit), which pure (size, mtime_ns) classifies as
    'unchanged' and silently serves a stale index for."""
    h = hashlib.blake2b(str(size).encode(), digest_size=16)
    with open(path, "rb") as fh:
        h.update(fh.read(_FP_BYTES))
        if size > 2 * _FP_BYTES:
            fh.seek(size - _FP_BYTES)
            h.update(fh.read(_FP_BYTES))
        elif size > _FP_BYTES:
            fh.seek(_FP_BYTES)
            h.update(fh.read())
    return h.hexdigest()


def corpus_snapshot(src: str) -> dict:
    """Per-file (size, mtime_ns, content_fp) of the corpus — the append
    detector. The bounded content fingerprint (first/last 4 KiB blake2b)
    catches rewrites that preserve size AND mtime. _-prefixed markers
    (_SUCCESS) and dotfiles are transport noise, not data."""
    if os.path.isfile(src):
        st = os.stat(src)
        return {
            os.path.basename(src): [
                st.st_size,
                st.st_mtime_ns,
                _file_fingerprint(src, st.st_size),
            ]
        }
    out: dict = {}
    for dirpath, _, files in os.walk(src):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, src)] = [
                st.st_size,
                st.st_mtime_ns,
                _file_fingerprint(p, st.st_size),
            ]
    return out


def _entry_matches(old_e: list, cur_e: list) -> bool:
    """Compare snapshot entries across format generations: manifests
    written before the content fingerprint carry 2-element entries, and
    a 2-vs-3 comparison must not spuriously classify the whole corpus as
    rewritten — compare on the fields both sides recorded."""
    n = min(len(old_e), len(cur_e))
    return list(old_e[:n]) == list(cur_e[:n])


def snapshot_delta(old: dict, cur: dict) -> tuple[str, list[str]]:
    """Classify a corpus change: ``("unchanged", [])`` when every file
    matches exactly; ``("appended", new_files)`` when every OLD file is
    byte-identical (size+mtime+bounded content fp) and at least one new
    file exists — the O(delta) maintenance precondition; ``("rewritten",
    [])`` for anything else (modified or deleted files → full rebuild)."""
    if set(old) == set(cur) and all(_entry_matches(old[k], cur[k]) for k in old):
        return "unchanged", []
    if (
        old
        and set(old) <= set(cur)
        and all(_entry_matches(old[k], cur[k]) for k in old)
    ):
        return "appended", sorted(k for k in cur if k not in old)
    return "rewritten", []


def read_manifest(root: str) -> dict | None:
    p = os.path.join(root, "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


class ManifestConflict(RuntimeError):
    """The manifest moved between a writer's read and its commit —
    another maintainer committed first. The loser must re-read the
    manifest and redo (or skip) its maintenance against the new state;
    blindly retrying the same write would last-writer-wins away the
    winner's generation. The parquet analogue of Iceberg's optimistic
    catalog-commit CommitFailedException (the reference delegates this
    to the Iceberg catalog via ``SparkUtils.java:46-51``; this analogue
    owns it)."""


@contextlib.contextmanager
def maintenance_lease(root: str, timeout: float = 600.0):
    """Exclusive cross-process lease over a state root's maintenance.

    flock on ``<root>.maintenance.lock`` (a sibling of the root, not
    inside it — see below) — held for the duration of a
    build/maintain/compact so two concurrent maintainers serialize
    instead of interleaving their staging writes (generation dirs are
    keyed by gen number, so two writers staging gen N+1 simultaneously
    would corrupt each other's files BEFORE either reaches the manifest
    CAS). Readers never take the lock: manifest replace stays atomic and
    they see old-or-new. Advisory, same-host scope — the multi-host
    analogue is the catalog-side lock Iceberg provides; on one warehouse
    host (our deployment shape for the parquet analogue) flock is
    exactly the lease needed. Raises TimeoutError if the lease cannot be
    acquired within ``timeout`` seconds (a stuck peer holding the lock).

    The lock file is a SIBLING of the root (``<root>.maintenance.lock``),
    not inside it: a full rebuild rmtree's the root, and deleting the
    file a peer holds flocked would let a third writer create a fresh
    lock file and 'acquire' the lease concurrently."""
    import fcntl

    parent = os.path.dirname(os.path.abspath(root))
    os.makedirs(parent, exist_ok=True)
    path = os.path.abspath(root).rstrip(os.sep) + ".maintenance.lock"
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"maintenance lease on {root} not acquired within "
                        f"{timeout}s — another maintainer holds it"
                    )
                time.sleep(0.05)
        yield
    finally:
        with contextlib.suppress(OSError):
            fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def write_manifest(
    root: str, manifest: dict, expect_seq: int | None = None
) -> dict:
    """Manifest write is the commit point: written LAST (after every data
    file of the new generation) and atomically via rename, so a crashed
    writer never publishes partial state and a concurrent reader sees
    old-or-new, never a torn file.

    Optimistic-concurrency seam: every committed manifest carries a
    monotonically increasing ``commit_seq``. A writer that read the
    manifest at sequence S passes ``expect_seq=S`` and the commit raises
    :class:`ManifestConflict` if the on-disk sequence moved — the CAS
    check and the replace happen under a short flock critical section so
    two concurrent CAS commits cannot both win. ``expect_seq=None``
    (legacy call shape) still serializes the bump but does not check —
    callers are expected to hold :func:`maintenance_lease` instead.
    Returns the committed manifest (with its ``commit_seq``)."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    # sibling path for the same reason as maintenance_lease: rebuilds
    # rmtree the root and must not delete a lock a peer holds
    lock_fd = os.open(
        os.path.abspath(root).rstrip(os.sep) + ".commit.lock",
        os.O_CREAT | os.O_RDWR,
        0o644,
    )
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        cur = read_manifest(root)
        cur_seq = int((cur or {}).get("commit_seq", 0))
        if expect_seq is not None and cur_seq != int(expect_seq):
            raise ManifestConflict(
                f"manifest at {root} moved: read at commit_seq={expect_seq}, "
                f"now commit_seq={cur_seq} — re-read and redo the maintenance"
            )
        manifest = dict(manifest)
        manifest["commit_seq"] = cur_seq + 1
        tmp = os.path.join(root, "manifest.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(root, "manifest.json"))
        return manifest
    finally:
        with contextlib.suppress(OSError):
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
        os.close(lock_fd)


def stamp_manifest(root: str, **extra) -> dict:
    """Read-modify-write extra keys into an existing manifest (atomic,
    CAS-retried: a concurrent commit between the read and the write
    re-reads and re-applies the stamp instead of clobbering the other
    writer's fields). Used for cross-root coherence stamps (e.g. the
    maintenance demo's ``stage_phase``) that the generic build/maintain
    writers don't know about. Raises if no manifest exists — a stamp on
    nothing is a bug."""
    for _ in range(64):
        man = read_manifest(root)
        if man is None:
            raise ValueError(f"no manifest at {root} to stamp")
        if all(man.get(k) == v for k, v in extra.items()):
            return man  # idempotent: warm serve re-stamps cost no commit
        seq = int(man.get("commit_seq", 0))
        man.update(extra)
        try:
            return write_manifest(root, man, expect_seq=seq)
        except ManifestConflict:
            continue
    raise ManifestConflict(f"stamp on {root} lost 64 consecutive CAS races")


def gen_dir(root: str, kind: str, gen: int) -> str:
    """Generation-scoped data directory: ``<root>/<kind>/gen_<g>``."""
    return os.path.join(root, kind, f"gen_{gen}")


def gen_paths(root: str, kind: str, gen: int, base: int = 0) -> list[str]:
    """Reader path list for an appended artifact: generations
    ``base..gen`` inclusive — a generation exists only once the manifest
    names it, so files written by a crashed half-applied maintenance are
    invisible until its manifest commit; the retry overwrites them."""
    return [gen_dir(root, kind, g) for g in range(base, gen + 1)]


def _live_gens(d: str) -> list[tuple[int, str]]:
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("gen_"):
            try:
                out.append((int(name[4:]), os.path.join(d, name)))
            except ValueError:
                continue
    return out


def expire_generations(root: str, keep: dict[str, set[int]]) -> list[str]:
    """Delete generation directories not named in ``keep`` (a map of
    artifact kind → the generation numbers still reachable from the
    manifest). Returns the deleted paths. The caller computes ``keep``
    from the COMMITTED manifest, so expiry can never race a writer into
    deleting a generation a reader could still list: anything outside
    the keep set is either below ``base_gen`` (compacted away) or an
    orphan from a crashed writer whose retry overwrites it anyway."""
    deleted = []
    for kind, gens in keep.items():
        for g, path in _live_gens(os.path.join(root, kind)):
            if g not in gens:
                shutil.rmtree(path, ignore_errors=True)
                deleted.append(path)
    return deleted


AUTO_COMPACT_GENS = 8  # live generation width that triggers auto-compaction


class FoldDeclined(ValueError):
    """A family's fold refuses a delta whose premise broke (an FK orphan,
    an update-shaped row, a probe the stream has no corpus for). The file
    path rebuilds from the corpus instead; the row-level path has no
    corpus and lets this ValueError, carrying the fold's reason, raise."""


class StateRoot:
    """The one lifecycle every persisted state family runs (see the
    module docstring). A family supplies:

    * ``build()`` — stage generation 0 into the freshly emptied root and
      return its manifest fields;
    * ``fold(man, delta)`` — stage ``delta`` as the next generation and
      return the manifest to commit (``man`` itself when the delta adds
      nothing); raise :class:`FoldDeclined` to refuse the delta;
    * ``compact(man, gen)`` — stage the merge of the live generations as
      ``gen`` and return any extra manifest fields (``None``: no
      compaction);
    * ``kinds`` — the appended artifact kinds expiry sweeps, plus an
      optional ``expire_extra(man, lo, floor)`` for artifacts outside
      the ``<kind>/gen_<g>`` layout;
    * ``commit(man)`` — how a manifest is committed (default: plain
      :func:`write_manifest`);
    * ``snapshot_key`` — the manifest key holding the source snapshot.

    ``name`` and ``hint`` word the error raised when a lease-holding
    operation finds no manifest (``no <name> at <root>; <hint>``)."""

    def __init__(
        self,
        root: str,
        name: str,
        *,
        build=None,
        fold=None,
        compact=None,
        kinds: tuple[str, ...] = (),
        expire_extra=None,
        commit=None,
        snapshot_key: str = "files",
        hint: str = "",
    ):
        self.root, self.name, self.hint = root, name, hint
        self.key = snapshot_key
        self.kinds = tuple(kinds)
        self._build, self._fold, self._compact = build, fold, compact
        self._expire_extra = expire_extra
        self._commit = commit or (lambda man: write_manifest(root, man))

    def read(self) -> dict | None:
        """The committed manifest; one without a generation predates the
        protocol and counts as absent (it is rebuilt)."""
        man = read_manifest(self.root)
        return man if man is not None and "gen" in man else None

    def _classify(self, man: dict, cur: dict) -> tuple[str, list[str]]:
        return snapshot_delta(man.get(self.key, {}), cur)

    def ensure(
        self,
        snapshot,
        read_delta,
        appendable: bool = True,
        stale=None,
        refresh=None,
    ) -> dict:
        """Serve, fold or rebuild as the source ``snapshot()`` dictates
        and return the committed manifest. ``read_delta(new_files)``
        loads an append's new files for the fold; ``appendable=False``
        (a single-file source) rebuilds on any change. ``stale(man)``
        / ``refresh(man)`` are the optional post-step: a stale manifest
        leaves the lock-free path, and ``refresh`` runs under the lease
        after any fold or rebuild."""
        man = self.read()
        if (
            man is not None
            and self._classify(man, snapshot())[0] == "unchanged"
            and not (stale and stale(man))
        ):
            return man  # lock-free serve
        with maintenance_lease(self.root):
            man, cur = self.read(), snapshot()  # re-read under the lease
            if man is not None:
                kind, new_files = self._classify(man, cur)
                if kind == "appended" and appendable:
                    try:
                        man = self._fold_locked(man, read_delta(new_files), cur)
                    except FoldDeclined:
                        man = None
                elif kind != "unchanged":
                    man = None
            if man is None:
                man = self._rebuild(cur)
            return refresh(man) if refresh else man

    def run(self, step, hint: str | None = None):
        """Lease, require a manifest, return ``step(man)``."""
        with maintenance_lease(self.root):
            man = self.read()
            if man is None:
                hint = self.hint if hint is None else hint
                raise ValueError(
                    f"no {self.name} at {self.root}" + (f"; {hint}" if hint else "")
                )
            return step(man)

    def maintain(self, delta, files: dict | None = None) -> dict:
        """Row-level maintenance: fold ``delta`` (a declined fold
        raises), then auto-compact. ``files`` replaces the recorded
        snapshot; ``None`` keeps it."""
        return self.run(lambda man: self._fold_locked(man, delta, files))

    def build(self, files: dict | None = None) -> dict:
        """Full rebuild under the lease."""
        with maintenance_lease(self.root):
            return self._rebuild(files)

    def compact(self) -> dict:
        """Merge the live generations into one base generation."""
        return self.run(self._compact_locked)

    def expire(self) -> list:
        """Delete generation directories the committed manifest no longer
        reaches. Takes the lease: a concurrent maintainer's staged gen+1
        files look exactly like a crashed writer's orphans."""
        return self.run(self._expire_locked, hint="nothing to expire")

    def _rebuild(self, files: dict | None) -> dict:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
        return self._commit({**self._build(), self.key: files or {}})

    def _fold_locked(self, man: dict, delta, files: dict | None) -> dict:
        new = {
            **self._fold(man, delta),
            self.key: man.get(self.key, {}) if files is None else files,
        }
        if new != man:
            man = self._commit(new)
        if self._compact is None:
            return man
        thresh = int(man.get("auto_compact_gens", AUTO_COMPACT_GENS))
        if man["gen"] - man.get("base_gen", 0) + 1 <= thresh:
            return man
        # one-cycle grace: generations below the PRE-compaction base were
        # superseded by the previous compaction and have survived a full
        # extra cycle, so a DataFrame handed out before that compaction
        # has had the whole cycle to materialize; the ones this
        # compaction supersedes are kept until the next one
        floor = int(man.get("base_gen", 0))
        man = self._compact_locked(man)
        self._expire_locked(man, floor)
        return man

    def _compact_locked(self, man: dict) -> dict:
        gen, base = man["gen"], man.get("base_gen", 0)
        if base == gen:
            return man  # single live generation — nothing to merge
        extra = self._compact(man, gen + 1) or {}
        return self._commit({**man, "gen": gen + 1, "base_gen": gen + 1, **extra})

    def _expire_locked(self, man: dict, floor: int | None = None) -> list:
        """``floor`` widens the keep set downward for auto-compaction
        (generations in ``[floor, base_gen)`` survive one more cycle);
        ``None`` keeps exactly the manifest-reachable set."""
        gen = man["gen"]
        lo = man.get("base_gen", 0) if floor is None else min(floor, gen)
        live = set(range(lo, gen + 1))
        deleted = expire_generations(self.root, {k: live for k in self.kinds})
        if self._expire_extra is not None:
            deleted += self._expire_extra(man, lo, floor)
        return deleted
