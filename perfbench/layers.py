"""Per-layer metrics of a traced run: which wrappers to install around the
program's public functions, and how spans, client timestamps and the Spark
event log turn into the named figures BENCHMARK.json lists."""

from __future__ import annotations

import base64
import statistics

from . import gen
from .queries import AUDIT, HEADLINE, SETS, STATE_FAMILIES
from .spans import Tracer, jobs_between, read_events, self_times, stage_totals

E2E = {"setup_s": "s", "ops_per_s": "1/s", "latency_ms": "ms", "peak_rss_mb": "MB"}

# name -> (unit, better)
INGEST_LAYERS = {
    "plugin.decode_ms": ("ms", "lower"),
    "plugin.on_next_ms": ("ms", "lower"),
    "plugin.records_in": ("count", "higher"),
    "plugin.acks": ("count", "higher"),
    "plugin.errors": ("count", "lower"),
    "plugin.queue_wait_ms": ("ms", "lower"),
    "plugin.ack_return_ms": ("ms", "lower"),
    "records.key_decode_ms": ("ms", "lower"),
    "records.payload_norm_ms": ("ms", "lower"),
    "writer.insert_ms": ("ms", "lower"),
    "writer.update_ms": ("ms", "lower"),
    "writer.delete_ms": ("ms", "lower"),
    "writer.spark_jobs_per_record": ("jobs/record", "lower"),
    "warehouse.append_ms": ("ms", "lower"),
    "warehouse.commits_per_record": ("1/record", "lower"),
    "warehouse.overwrite_ms": ("ms", "lower"),
    "warehouse.read_ms": ("ms", "lower"),
    "warehouse.live_files_end": ("count", "lower"),
    "warehouse.bytes_written_per_user_byte": ("ratio", "lower"),
}


def layer_names() -> dict[str, tuple[str, str]]:
    out = dict(INGEST_LAYERS)
    out["session.build_s"] = ("s", "lower")
    for name in HEADLINE + AUDIT:
        for phase in ("build", "plan", "exec"):
            out[f"query.{name}.{phase}_s"] = ("s", "lower")
    for set_name in SETS:
        out[f"registry.{set_name}.wall_s"] = ("s", "lower")
        for k, unit in (("shuffle_mb", "MB"), ("spill_mb", "MB"),
                        ("stages", "count"), ("tasks", "count")):
            out[f"registry.{set_name}.{k}"] = (unit, "lower")
    for family in STATE_FAMILIES:
        out[f"state.{family}.ensure_s"] = ("s", "lower")
    for name, unit in E2E.items():
        better = "higher" if name == "ops_per_s" else "lower"
        out[f"traced.{name}"] = (unit, better)
    return out


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries: plugin decode and Run handling, record
    decode, the writer's three ops and the warehouse's commits."""
    from conduit_connector_s3_iceberg_spark import writer
    from conduit_connector_s3_iceberg_spark.plugin import server, service

    tracer.wrap(server, "record_from_wire", "plugin.decode",
                lambda msg: base64.b64decode(msg["position"]).decode())
    tracer.wrap(service.DestinationStream, "on_next", "plugin.on_next",
                lambda self, req: req.record.position.decode())
    tracer.wrap(writer, "key_to_map", "records.key_decode")
    tracer.wrap(writer, "normalize_payload_json", "records.payload_norm")
    for op in ("insert", "update", "delete"):
        tracer.wrap(writer.CdcWriter, op, f"writer.{op}")
    tracer.wrap(writer.ParquetWarehouse, "append", "warehouse.append")
    tracer.wrap(writer.ParquetWarehouse, "overwrite_with", "warehouse.overwrite")
    tracer.wrap(writer.ParquetWarehouse, "overwrite_where_not", "warehouse.overwrite")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def ingest_layers(h, run) -> dict[str, float]:
    from .ingest import READ_DESCRIPTION

    spans = h.tracer.spans
    own = self_times(spans)
    stream, trickle = set(run.order), run.trickle

    def mean_self_ms(name):
        return 1000 * _mean(own[s.id] for s in spans
                            if s.name == name and s.trace in stream)

    on_next = [s for s in spans if s.name == "plugin.on_next" and s.trace in stream]
    burst_acks = [run.acks[p] for p in run.burst if p in run.acks]
    events = read_events(h.event_dir)
    jobs = jobs_between(events, h.epoch_ms(run.t_burst),
                        h.epoch_ms(max(burst_acks, default=run.t_burst)),
                        skip_description=READ_DESCRIPTION)
    user_bytes = sum(gen.payload_bytes(r) for r in run.sent)
    out = {f"{name}_ms": mean_self_ms(name) for name in (
        "plugin.decode", "plugin.on_next", "records.key_decode",
        "records.payload_norm", "writer.insert", "writer.update",
        "writer.delete", "warehouse.append", "warehouse.overwrite")}
    out.update({
        "plugin.records_in": len(on_next),
        "plugin.acks": len(run.order),
        "plugin.errors": run.errors,
        "plugin.queue_wait_ms": 1000 * _mean(
            s.start - run.send_at[s.trace] for s in on_next if s.trace in trickle),
        "plugin.ack_return_ms": 1000 * _mean(
            run.acks[s.trace] - s.end for s in on_next if s.trace in trickle),
        "writer.spark_jobs_per_record": _ratio(jobs, len(burst_acks)),
        "warehouse.commits_per_record": _ratio(run.facts["burst_commits"],
                                               len(burst_acks)),
        "warehouse.read_ms": 1000 * _mean(
            s.end - s.start for s in spans if s.name == "warehouse.read"),
        "warehouse.live_files_end": run.facts["live_files"],
        "warehouse.bytes_written_per_user_byte": _ratio(run.facts["new_bytes"],
                                                        user_bytes),
    })
    return out


def registry_layers(h, run) -> dict[str, float]:
    events = read_events(h.event_dir)
    out: dict[str, float] = {}
    for name, runs in run.phases.items():
        for phase, xs in zip(("build", "plan", "exec"), zip(*runs)):
            out[f"query.{name}.{phase}_s"] = statistics.median(xs)
    for set_name, (lo, hi) in run.set_windows.items():
        out[f"registry.{set_name}.wall_s"] = sum(run.query_s(n) for n in SETS[set_name])
        for k, v in stage_totals(events, h.epoch_ms(lo), h.epoch_ms(hi)).items():
            out[f"registry.{set_name}.{k}"] = v
    for family, xs in run.ensure_s.items():
        out[f"state.{family}.ensure_s"] = statistics.median(xs)
    return out


def per_layer(h, run, workload: str, e2e: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    values = dict.fromkeys(layer_names(), 0.0)
    if workload == "query_registry":
        values.update(registry_layers(h, run))
    else:
        values.update(ingest_layers(h, run))
    values["session.build_s"] = statistics.median(h.session_builds)
    for name, v in e2e.items():
        values[f"traced.{name}"] = v
    return values
