"""Tests of the benchmark's own code: seeded generators, the sequential-apply
model (against the real ``CdcWriter.write``), the sample-count rule and
span self time.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
from collections import Counter

import pytest

from perfbench import gen
from perfbench.spans import Span, self_times


def test_snapshot_stream_is_deterministic_per_seed():
    a = list(itertools.islice(gen.snapshot_records(7), 50))
    b = list(itertools.islice(gen.snapshot_records(7), 50))
    c = list(itertools.islice(gen.snapshot_records(8), 50))
    assert a == b and a != c
    keys = [gen._data(r["key"])["id"] for r in a]
    assert len(set(keys)) == len(keys)  # every record a pure append
    assert {r["operation"] for r in a} == {"OPERATION_SNAPSHOT", "OPERATION_CREATE"}


def test_trickle_stream_is_deterministic_with_exact_mix():
    a = gen.trickle_records(3, 40)
    assert a == gen.trickle_records(3, 40)
    assert a != gen.trickle_records(4, 40)
    assert gen.preload_rows(3, 10) == gen.preload_rows(3, 10)
    assert Counter(r["operation"] for r in a) == {
        "OPERATION_UPDATE": 24, "OPERATION_CREATE": 10, "OPERATION_DELETE": 6}
    assert Counter(r["operation"] for r in gen.trickle_records(3, 16)) == {
        "OPERATION_UPDATE": 10, "OPERATION_CREATE": 4, "OPERATION_DELETE": 2}


def test_trickle_stream_has_duplicate_creates_and_absent_deletes():
    recs = gen.trickle_records(11, 400)
    live = set(range(gen.PRELOAD_ROWS))
    dup_creates = absent_deletes = 0
    for r in recs:
        key = int(gen._data(r["key"])["id"])
        if r["operation"] == "OPERATION_CREATE":
            dup_creates += key in live
            live.add(key)
        elif r["operation"] == "OPERATION_DELETE":
            absent_deletes += key not in live
            live.discard(key)
        else:
            live.add(key)
    assert dup_creates > 0 and absent_deletes > 0
    kinds = {next(iter(r["key"])) for r in recs}
    assert kinds == {"rawData", "structuredData"}


def test_model_semantics():
    row = {"id": 1, "name": "a", "amount": 1.0, "qty": 1, "note": "x"}

    def rec(op, key, **over):
        r = {"position": "", "operation": op, "key": {"structuredData": {"id": key}}}
        if op != "OPERATION_DELETE":
            r["payload"] = {"after": {"structuredData": dict(row, id=key, **over)}}
        return r

    out = gen.apply_sequential([], [
        rec("OPERATION_CREATE", 1),
        rec("OPERATION_CREATE", 1, name="b"),      # duplicate key: appends
        rec("OPERATION_CREATE", 2),
        rec("OPERATION_UPDATE", 2, name="c"),      # replaces by key
        rec("OPERATION_UPDATE", 3),                # absent key: inserts
        rec("OPERATION_DELETE", 9),                # absent key: no-op
        rec("OPERATION_DELETE", 3),
        rec("OPERATION_UNSPECIFIED", 1, name="z"),  # no-op
    ])
    assert sorted(out) == [(1, "a", 1.0, 1, "x"), (1, "b", 1.0, 1, "x"),
                           (2, "c", 1.0, 1, "x")]


@pytest.mark.parametrize("n,expected", [
    (1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (200, 95), (1000, 99), (10000, 99.9)])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert gen.tail_percentile(n) == expected


def test_percentile_interpolates():
    assert gen.percentile([4, 1, 3, 2], 50) == 2.5
    assert gen.percentile([1, 2, 3, 4, 5], 75) == 4
    assert gen.percentile([7], 99) == 7


def test_self_time_subtracts_merged_children():
    spans = [Span(0, "p", "t", None, 0.0, 10.0),
             Span(1, "c", "t", 0, 1.0, 4.0),
             Span(2, "c", "t", 0, 3.0, 5.0),   # overlaps the first child
             Span(3, "c", "t", 0, 8.0, 12.0),  # runs past its parent
             Span(4, "g", "t", 1, 1.5, 2.0)]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 4 - 2)
    assert own[1] == pytest.approx(3 - 0.5)
    assert own[4] == pytest.approx(0.5)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_model_matches_cdc_writer(spark, tmp_path):
    """A small seeded trickle sequence, including a duplicate-key CREATE and
    a DELETE of an absent key, applied record by record through the plugin
    decode and ``CdcWriter.write``, ends in the model's table."""
    from pyspark.sql import types as T

    from conduit_connector_s3_iceberg_spark.plugin.service import record_from_wire
    from conduit_connector_s3_iceberg_spark.writer import CdcWriter, ParquetWarehouse

    preload = gen.preload_rows(4, 20)
    recs = gen.trickle_records(4, 20, preload=20)
    keys = [(r["operation"], int(gen._data(r["key"])["id"])) for r in recs]
    seen = set(range(20))
    assert any(op == "OPERATION_CREATE" and k in seen for op, k in keys)
    assert any(op == "OPERATION_DELETE" and k >= gen.ABSENT_KEY_BASE for op, k in keys)

    schema = T.StructType.fromDDL(gen.DDL)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(gen.TABLE, schema)
    wh.append(gen.TABLE, spark.createDataFrame(preload, schema))
    writer = CdcWriter(wh, gen.TABLE)
    for r in recs:
        writer.write(record_from_wire(r))
    got = sorted(tuple(r) for r in wh.read(gen.TABLE).collect())
    assert got == sorted(gen.apply_sequential(preload, recs))


def test_benchmark_json_lists_every_metric_the_runs_print():
    import json
    import os

    from perfbench import layers

    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == \
        layers.layer_names()
    assert len(bench["per_layer"]) <= 128
