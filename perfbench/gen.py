"""Seeded inputs for the ingest workloads, the sequential-apply model that
checks them, and the sample statistics the benchmark reports.

Everything here is pure Python so it can be tested without Spark. The
program under test only ever sees the proto-JSON records these functions
produce.
"""

from __future__ import annotations

import base64
import itertools
import json
import math
import random
import statistics
from typing import Iterator

TABLE = "bench_t"
# (name, Spark DDL type) of the target table; payload JSON is parsed
# against it by the writer (FAILFAST)
COLUMNS = (("id", "bigint"), ("name", "string"), ("amount", "double"),
           ("qty", "int"), ("note", "string"))
DDL = ", ".join(f"{name} {typ}" for name, typ in COLUMNS)

PRELOAD_ROWS = 5000            # rows of the ingest table before the stream
ABSENT_KEY_BASE = 10 ** 12     # DELETE targets that no record ever creates
ZIPF_S = 1.1
# op mix of the trickle stream, as an exact composition of every stream:
# UPDATE 60 %, CREATE 25 %, DELETE 15 %. UPDATE is the slowest op, and a
# share clearly above one half keeps the median ack inside the UPDATE
# cluster instead of on the gap between clusters.
TRICKLE_MIX = (("OPERATION_UPDATE", 0.60), ("OPERATION_CREATE", 0.25),
               ("OPERATION_DELETE", 0.15))
_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango").split()


def _b64(s: str) -> str:
    return base64.b64encode(s.encode("utf-8")).decode("ascii")


def _row(rng: random.Random, key: int) -> dict:
    # amounts are quarter units so every sum is exact in binary floating
    # point, whatever order Spark adds them in
    return {
        "id": key,
        "name": f"n{rng.randrange(10 ** 6)}",
        "amount": rng.randrange(40000) / 4,
        "qty": rng.randrange(100),
        "note": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 12))),
    }


def preload_rows(seed: int, n: int = PRELOAD_ROWS) -> list[tuple]:
    rng = random.Random(f"preload-{seed}")
    return [row_tuple(_row(rng, k)) for k in range(n)]


def row_tuple(row: dict) -> tuple:
    return tuple(row.get(name) for name, _ in COLUMNS)


def _record(rng: random.Random, pos: str, op: str, key: int,
            row: dict | None) -> dict:
    """One opencdc.v1.Record in proto-JSON. Keys alternate between the
    structuredData and rawData arms; payloads are mostly rawData, with
    whole-number qty written as a float the writer must normalise."""
    rec = {"position": _b64(pos), "operation": op,
           "metadata": {"opencdc.collection": TABLE}}
    if rng.random() < 0.5:
        rec["key"] = {"structuredData": {"id": key}}
    else:
        rec["key"] = {"rawData": _b64(json.dumps({"id": key}))}
    if row is not None:
        if rng.random() < 0.8:
            body = dict(row, qty=float(row["qty"]))
            rec["payload"] = {"after": {"rawData": _b64(json.dumps(body))}}
        else:
            rec["payload"] = {"after": {"structuredData": dict(row)}}
    return rec


def snapshot_records(seed: int) -> Iterator[dict]:
    """An endless initial-snapshot stream of SNAPSHOT and CREATE records,
    every key unique, so each record is a pure append."""
    rng = random.Random(f"snapshot-{seed}-s")
    first_key = 10 ** 9 + rng.randrange(10 ** 9)  # clear of the trickle keys
    for i in itertools.count():
        op = "OPERATION_SNAPSHOT" if rng.random() < 0.7 else "OPERATION_CREATE"
        key = first_key + i
        yield _record(rng, f"s-{i}", op, key, _row(rng, key))


class _Zipf:
    """Zipf(s) ranks over a fixed seeded permutation of the preloaded keys,
    so hot keys differ per seed."""

    def __init__(self, rng: random.Random, n: int):
        self.rng = rng
        self.keys = list(range(n))
        rng.shuffle(self.keys)
        self.cum = list(itertools.accumulate(1 / (r + 1) ** ZIPF_S for r in range(n)))

    def key(self) -> int:
        return self.rng.choices(self.keys, cum_weights=self.cum)[0]


def trickle_records(seed: int, n: int, preload: int = PRELOAD_ROWS) -> list[dict]:
    """``n`` CDC records over Zipf-skewed keys of the preloaded table.

    The op mix is exact (``TRICKLE_MIX``, rounded). A third of the CREATEs
    reuse a hot existing key (CREATE appends, so the table then holds two
    rows for it), and a quarter of the DELETEs name a key that never
    existed: a batched apply that collapses or reorders records diverges
    from sequential semantics on both, and the final-table check counts it."""
    rng = random.Random(f"trickle-{seed}-t")
    zipf = _Zipf(rng, preload)
    ops: list[str] = []
    for op, share in TRICKLE_MIX[1:]:
        ops += [op] * round(share * n)
    ops += [TRICKLE_MIX[0][0]] * (n - len(ops))
    rng.shuffle(ops)
    fresh = itertools.count(preload)
    absent = itertools.count(ABSENT_KEY_BASE)
    out = []
    for i, op in enumerate(ops):
        if op == "OPERATION_CREATE":
            key = zipf.key() if rng.random() < 1 / 3 else next(fresh)
        elif op == "OPERATION_DELETE":
            key = next(absent) if rng.random() < 0.25 else zipf.key()
        else:
            key = zipf.key()
        row = None if op == "OPERATION_DELETE" else _row(rng, key)
        out.append(_record(rng, f"t-{i}", op, key, row))
    return out


# ----------------------------------------------------------------- model ---

def _data(d: dict | None):
    if d is None:
        return None
    if "rawData" in d:
        return json.loads(base64.b64decode(d["rawData"]))
    return d["structuredData"]


def _as_row(payload: dict) -> tuple:
    out = []
    for name, typ in COLUMNS:
        v = payload.get(name)
        if v is not None and typ in ("bigint", "int"):
            v = int(v)
        elif v is not None and typ == "double":
            v = float(v)
        out.append(v)
    return tuple(out)


def apply_sequential(rows: list[tuple], records: list[dict]) -> list[tuple]:
    """The reference semantics, one record at a time and in order: CREATE
    and SNAPSHOT append, UPDATE replaces every row with the key (inserting
    when there is none), DELETE removes every row with the key, UNSPECIFIED
    does nothing. Keys are the ``id`` column."""
    rows = list(rows)
    for rec in records:
        op = rec.get("operation", "OPERATION_UNSPECIFIED")
        if op == "OPERATION_UNSPECIFIED":
            continue
        after = _data((rec.get("payload") or {}).get("after"))
        if op in ("OPERATION_CREATE", "OPERATION_SNAPSHOT"):
            rows.append(_as_row(after))
            continue
        key = int(_data(rec["key"])["id"])
        rows = [r for r in rows if r[0] != key]
        if op == "OPERATION_UPDATE":
            rows.append(_as_row(after))
    return rows


def payload_bytes(rec: dict) -> int:
    after = (rec.get("payload") or {}).get("after")
    if after is None:
        return 0
    if "rawData" in after:
        return len(base64.b64decode(after["rawData"]))
    return len(json.dumps(after["structuredData"]))


# ------------------------------------------------------------ statistics ---

def tail_percentile(n: int, min_beyond: int = 10,
                    candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest candidate percentile that leaves at least ``min_beyond``
    of ``n`` samples above it, or None when even the median does not."""
    for p in candidates:
        if n - math.ceil(n * p / 100) >= min_beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)
