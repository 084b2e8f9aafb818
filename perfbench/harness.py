"""Process-level plumbing shared by the workloads: the run's private work
directory inside the checkout, the Spark session, spans (traced runs only),
peak memory, notes, and shutting down the JVM."""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

from .spans import Tracer, event_log_conf

DRIVER_MEMORY = "2g"
# Spark task threads and JVM collector threads: fewer than the box's cores,
# so a core taken by a neighbour on a shared host stalls one thread of the
# run instead of every stage's slowest task
SPARK_THREADS = 2


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before pyspark starts the JVM."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    # Python workers import the package by name, as on a cluster
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)


class Harness:
    def __init__(self, root: str, work: str, traced: bool):
        self.root, self.work, self.traced = root, work, traced
        self.tracer = Tracer() if traced else None
        self.event_dir = os.path.join(work, "events")
        self.setup_times: list[float] = []
        self.session_builds: list[float] = []
        self.peak_rss_mb = 0.0
        self.rss_mb: dict[str, float] = {}
        self.notes: list[str] = []
        self.t0_epoch, self.t0_perf = time.time(), time.perf_counter()

    def epoch_ms(self, perf: float) -> float:
        return (self.t0_epoch + perf - self.t0_perf) * 1000

    def span(self, name: str, trace: str = ""):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, trace)

    def build_session(self, config=None, shuffle_partitions=None):
        """The session seam: ``build_session`` on ``SPARK_THREADS`` local
        threads, with the event log on in traced runs."""
        from conduit_connector_s3_iceberg_spark import session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # the whole heap committed and touched at start, so peak RSS
            # does not follow how far the collector let the heap grow
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-XX:ParallelGCThreads={SPARK_THREADS} -XX:ConcGCThreads=1"),
        }
        if self.traced:
            conf.update(event_log_conf(self.event_dir))
        t0 = time.perf_counter()
        with self.span("session.build"):
            spark = session.build_session(
                app_name="perfbench", master=f"local[{SPARK_THREADS}]",
                shuffle_partitions=shuffle_partitions, config=config,
                extra_conf=conf)
        self.session_builds.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def note(self, msg: str) -> None:
        self.notes.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def _jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def record_rss(self) -> None:
        """Peak resident set (VmHWM) of this process plus the JVM."""
        for name, pid in (("python", "self"), ("jvm", self._jvm_pid())):
            if pid is None:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        self.rss_mb[name] = int(line.split()[1]) / 1024
        self.peak_rss_mb = sum(self.rss_mb.values())

    def shutdown(self) -> None:
        """Stop Spark and the JVM and wait for it to exit."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
