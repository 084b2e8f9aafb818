"""The ``ingest`` workload, driven through the plugin's NDJSON socket server
exactly as a Conduit host drives it: one connection, Configure, Start, Run
(a record stream with interleaved acks), Stop, Teardown. The Run stream
has two phases on one preloaded table:

* trickle: a closed loop of ``TRICKLE_PER_SECOND`` x ``--seconds``
  UPDATE/CREATE/DELETE records over Zipf-skewed keys. The client sends one
  record, waits for its ack, reads the table once with a fixed aggregate
  and checks what it saw, then sends the next. It gives ``latency_ms``, the
  median ack latency from each record's send. With one record in flight
  and no read beside a write, a slower box lengthens every sample alike
  instead of queueing records behind each other. Read times are the
  per-layer ``warehouse.read_ms`` only.
* burst (``--seconds`` long, once the trickle is done): a saturated stream of unique-key SNAPSHOT/CREATE records. The sender keeps
  ``WINDOW`` records in flight without waiting for each ack, like a host
  draining an initial snapshot. It gives ``ops_per_s``. It runs second so
  that how far it gets, which depends on speed, does not change the table
  the trickle starts from.
"""

from __future__ import annotations

import base64
import json
import os
import select
import shutil
import socket
import threading
import time

from . import gen

WINDOW = 16               # burst records in flight
TRICKLE_PER_SECOND = 1.5  # trickle records per second of --seconds
SETUPS = 3                # set-ups per run; setup_s is their median
READ_DESCRIPTION = "perfbench-read"
CONFIG = {
    "catalog.name": "bench",
    "catalog.catalog-impl": "org.apache.iceberg.rest.RESTCatalog",
    "namespace": "bench",
    "table.name": gen.TABLE,
    "s3.access-key-id": "unused",
    "s3.secret-access-key": "unused",
    "s3.region": "us-east-1",
}


class Client:
    """One NDJSON connection to the plugin server."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("localhost", port), timeout=120)
        self.buf = b""

    def send(self, obj: dict) -> None:
        self.sock.sendall((json.dumps(obj) + "\n").encode("utf-8"))

    def recv(self, wait: float | None = None) -> dict | None:
        """The next reply, or None when ``wait`` seconds pass without one."""
        while b"\n" not in self.buf:
            if wait is not None and not select.select([self.sock], [], [], wait)[0]:
                return None
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("plugin server closed the connection")
            self.buf += chunk
        line, self.buf = self.buf.split(b"\n", 1)
        return json.loads(line)

    def call(self, obj: dict) -> dict:
        self.send(obj)
        reply = self.recv()
        if not reply.get("ok"):
            raise RuntimeError(f"{obj.get('rpc')} failed: {reply}")
        return reply

    def close(self) -> None:
        self.sock.close()


def position(rec: dict) -> str:
    return base64.b64decode(rec["position"]).decode("utf-8")


def warmup_records(i: int) -> list[dict]:
    """CREATE, UPDATE and DELETE of one key no stream uses: each write path
    runs once per set-up and the table ends as it started."""
    key = gen.ABSENT_KEY_BASE * 2 + i
    body = json.dumps({"id": key, "name": "warm", "amount": 1.0, "qty": 1.0,
                       "note": "warm"}).encode()
    out = []
    for op in ("OPERATION_CREATE", "OPERATION_UPDATE", "OPERATION_DELETE"):
        rec = {"position": base64.b64encode(f"w{i}-{op}".encode()).decode(),
               "operation": op, "key": {"structuredData": {"id": key}}}
        if op != "OPERATION_DELETE":
            rec["payload"] = {"after": {"rawData": base64.b64encode(body).decode()}}
        out.append(rec)
    return out


def table_agg(df) -> tuple:
    """The fixed read: row count, sum of qty, sum of amount."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), F.sum("qty"), F.sum("amount")).collect()[0]
    return (r[0], r[1] or 0, r[2] or 0.0)


def model_agg(rows) -> tuple:
    return (len(rows), sum(r[3] or 0 for r in rows), sum(r[2] or 0.0 for r in rows))


def inode_bytes(root: str) -> dict[int, int]:
    """Size per inode under ``root``: a hardlinked file counts once."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = st.st_size
    return out


class IngestRun:
    def __init__(self, h, seed: int, seconds: float):
        from conduit_connector_s3_iceberg_spark.plugin.server import PluginServer
        from conduit_connector_s3_iceberg_spark.plugin.service import DestinationService

        self.h, self.seed = h, seed
        self.burst_s = seconds
        self.trickle_n = round(seconds * TRICKLE_PER_SECOND)
        self.preload = gen.preload_rows(seed)
        self.wh = None
        self.wh_dirs: list[str] = []
        self.svc = DestinationService(session_factory=h.build_session,
                                      writer_factory=self._writer)
        self.server = PluginServer(port=0, destination=self.svc)
        self.attempted = self.failed = self.errors = 0
        self.sent: list[dict] = []
        self.burst: set[str] = set()
        self.burst_versions0 = 0
        self.trickle: set[str] = set()
        self.send_at: dict[str, float] = {}
        self.acks: dict[str, float] = {}
        self.order: list[str] = []
        self.reads: list[tuple[float, float, tuple]] = []
        self.t_burst = float("inf")
        self.drained = threading.Condition()

    def _writer(self, spark, config):
        """Writer seam: a fresh warehouse per Run stream, preloaded."""
        from pyspark.sql import types as T

        from conduit_connector_s3_iceberg_spark.writer import CdcWriter, ParquetWarehouse

        root = os.path.join(self.h.work, f"wh-{len(self.wh_dirs)}")
        self.wh_dirs.append(root)
        self.wh = ParquetWarehouse(spark, root)
        schema = T.StructType.fromDDL(gen.DDL)
        self.wh.create_table(config.table_name, schema)
        self.wh.append(config.table_name, spark.createDataFrame(self.preload, schema))
        return CdcWriter(self.wh, config.table_name)

    def _setup(self, c: Client, i: int) -> float:
        t0 = time.perf_counter()
        c.call({"rpc": "configure", "request": {"config": CONFIG}})
        c.call({"rpc": "start"})
        c.call({"rpc": "run"})
        for rec in warmup_records(i):
            c.send({"record": rec})
            if not c.recv().get("ok"):
                raise RuntimeError(f"warm-up record {position(rec)} failed")
        return time.perf_counter() - t0

    def run(self) -> dict:
        """Set up ``SETUPS`` times (tearing down all but the last), run the
        measured stream on the last, check it, then tear down."""
        self.server.start()
        c = Client(self.server.port)
        try:
            for i in range(SETUPS):
                self.h.setup_times.append(self._setup(c, i))
                if i < SETUPS - 1:
                    c.send({"end": True})
                    c.call({"rpc": "stop"})
                    c.call({"rpc": "teardown"})
                    shutil.rmtree(self.wh_dirs[-1], ignore_errors=True)
            self.inodes0 = inode_bytes(self.wh.root)
            result = self._stream(c)
            self.h.record_rss()
            self.facts = {
                "burst_commits": len(self.wh.history(gen.TABLE)) - self.burst_versions0,
                "live_files": self.wh.num_data_files(gen.TABLE),
                "new_bytes": sum(v for k, v in inode_bytes(self.wh.root).items()
                                 if k not in self.inodes0),
            }
            c.send({"end": True})
            c.call({"rpc": "stop"})
            c.call({"rpc": "teardown"})  # stops Spark: the event log is complete
            return result
        finally:
            c.close()
            self.server.stop(grace_seconds=60)
            for d in self.wh_dirs:
                shutil.rmtree(d, ignore_errors=True)

    # -- the measured stream ----------------------------------------------
    def _send(self, c: Client, rec: dict, phase: set[str]) -> None:
        pos = position(rec)
        self.send_at[pos] = time.perf_counter()
        self.sent.append(rec)
        phase.add(pos)
        c.send({"record": rec})

    def _burst(self, c: Client, window: threading.Semaphore) -> None:
        self.t_burst = time.perf_counter()
        deadline = self.t_burst + self.burst_s
        for rec in gen.snapshot_records(self.seed):
            while not window.acquire(timeout=0.05):
                if time.perf_counter() >= deadline or self.errors:
                    return
            if time.perf_counter() >= deadline or self.errors:
                return
            self._send(c, rec, self.burst)

    def _trickle(self, c: Client) -> None:
        """Each record is sent once the previous one is acked and the table
        read after it."""
        for rec in gen.trickle_records(self.seed, self.trickle_n):
            self._send(c, rec, self.trickle)
            with self.drained:
                self.drained.wait_for(
                    lambda: self.errors or len(self.order) >= len(self.sent))
            if self.errors:
                return
            start = time.perf_counter()
            with self.h.span("warehouse.read", f"read-{len(self.reads)}"):
                got = table_agg(self.wh.read(gen.TABLE))
            self.reads.append((start, time.perf_counter(), got))

    def _sender(self, c: Client, window: threading.Semaphore,
                done: threading.Event) -> None:
        """The trickle, then the burst."""
        try:
            self.svc.spark.sparkContext.setJobDescription(READ_DESCRIPTION)
            self._trickle(c)
            if not self.errors:
                self.burst_versions0 = len(self.wh.history(gen.TABLE))
                self._burst(c, window)
        finally:
            done.set()

    def _stream(self, c: Client) -> dict:
        window = threading.Semaphore(WINDOW)
        done = threading.Event()
        sender = threading.Thread(target=self._sender, args=(c, window, done),
                                  name="perfbench-sender")
        sender.start()
        while not (done.is_set() and len(self.order) >= len(self.sent)):
            msg = c.recv(wait=0.1)
            if msg is None:
                continue
            with self.drained:
                if not msg.get("ok"):
                    self.errors += 1
                    self.h.note(f"error ack: {msg}")
                else:
                    pos = base64.b64decode(msg["response"]["ackPosition"]).decode()
                    self.acks[pos] = time.perf_counter()
                    self.order.append(pos)
                self.drained.notify_all()
            if self.errors:
                break
            if pos in self.burst:
                window.release()
        sender.join()
        return self._check()

    # -- correctness and figures -------------------------------------------
    def _check(self) -> dict:
        expected = [position(r) for r in self.sent]
        self.attempted += len(expected)
        self.failed += sum(1 for a, b in zip(self.order, expected) if a != b)
        self.failed += max(0, len(expected) - len(self.order))

        prefix = [gen.apply_sequential(self.preload, warmup_records(SETUPS - 1))]
        for rec in self.sent:
            prefix.append(gen.apply_sequential(prefix[-1], [rec]))
        want = prefix[-1]
        got = [tuple(r) for r in self.wh.read(gen.TABLE).collect()]
        self.attempted += 1
        order_key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        if sorted(got, key=order_key) != sorted(want, key=order_key):
            self.failed += 1
            self.h.note(f"final table differs from the sequential model "
                        f"({len(got)} rows, {len(want)} expected)")
        self._check_reads([model_agg(rows) for rows in prefix])

        burst_acks = [self.acks[p] for p in self.burst if p in self.acks]
        burst_span = max(burst_acks, default=self.t_burst) - self.t_burst
        lat = [self.acks[p] - self.send_at[p] for p in self.trickle if p in self.acks]
        reads = [end - start for start, end, _ in self.reads]
        tail = gen.tail_percentile(len(lat))
        return {
            "ops_per_s": len(burst_acks) / burst_span if burst_span > 0 else float("nan"),
            "latency_ms": 1000 * gen.median(lat),
            "details": {
                "read_p50_ms": 1000 * gen.median(reads),
                "burst_acks": len(burst_acks), "ack_samples": len(lat),
                "read_samples": len(reads),
                "ack_tail": None if tail is None else {
                    "percentile": tail, "ms": 1000 * gen.percentile(lat, tail)},
            },
        }

    def _check_reads(self, prefix_aggs: list[tuple]) -> None:
        """Each read must see the table as of some prefix of the
        stream: every record acked before the read started, and at most
        every record sent before it ended."""
        ack_times = sorted(self.acks.values())
        sent_times = sorted(self.send_at.values())
        for start, end, got in self.reads:
            lo = sum(1 for t in ack_times if t < start)
            hi = sum(1 for t in sent_times if t < end)
            self.attempted += 1
            if got not in prefix_aggs[lo:hi + 1]:
                self.failed += 1
                self.h.note(f"read saw {got}; no stream prefix in [{lo}, {hi}] matches")
