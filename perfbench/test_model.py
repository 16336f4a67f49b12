"""The benchmark's own checks: its reference model agrees with the engine.

    python3 -m pytest perfbench/test_model.py -q -p no:cacheprovider
"""

import json
import os
import sys
import time

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from model import Model  # noqa: E402

os.environ["TZ"] = "UTC"  # collected timestamps are naive local times
time.tzset()


def _element(key, attr, stamp_ms, seq, value=None, *, delete=False, wildcard=False):
    return {
        "entity": gen.ENTITY, "key": key, "attribute": attr,
        "attribute_base": gen.WILDCARD if attr.startswith("device.") else attr,
        "seq_id": seq, "uuid": None, "stamp": stamp_ms * 1000,
        "delete": delete or wildcard, "delete_wildcard": wildcard, "value": value,
    }


def _edge_cases() -> pa.Table:
    t = gen.T0_MS
    rows = [
        # out of order: the later element in the log carries the older stamp
        _element("k1", "name", t + 500, 10_001, b"new"),
        _element("k1", "name", t + 100, 10_002, b"old"),
        # equal stamps: the higher seq_id wins
        _element("k1", "email", t + 200, 10_004, b"seq-high"),
        _element("k1", "email", t + 200, 10_003, b"seq-low"),
        # wildcard tombstone at t+300 hides older instances; an instance
        # written exactly at the tombstone stamp survives
        _element("k1", "device.d0", t + 100, 10_005, b"hidden"),
        _element("k1", "device.d1", t + 300, 10_006, b"kept"),
        _element("k1", "device.*", t + 300, 10_007, wildcard=True),
        _element("k1", "device.d2", t + 400, 10_008, b"after"),
        # a delete that wins hides the cell
        _element("k1", "tier", t + 100, 10_009, b"gone"),
        _element("k1", "tier", t + 150, 10_010, delete=True),
    ]
    stamps = pa.array([r.pop("stamp") for r in rows], pa.int64())
    table = pa.Table.from_pylist(rows, schema=gen.SCHEMA.remove(6))
    return table.add_column(6, gen.SCHEMA.field(6), stamps.cast(pa.timestamp("us", tz="UTC")))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
    yield s
    s.stop()


def test_model_matches_changelog_snapshot(spark, tmp_path):
    from proxima_platform_spark.changelog import snapshot

    log = pa.concat_tables([gen.changelog(3, 5_000), _edge_cases()])
    gen.write_parts(log, str(tmp_path), 2)
    rows = snapshot(spark.read.parquet(str(tmp_path))).select(
        "key", "attribute", "value", "stamp").collect()
    got = {(r.key, r.attribute, bytes(r.value),
            round(r.stamp.replace(tzinfo=None).timestamp() * 1e6)) for r in rows}
    model = Model.of(log)
    assert got == model.live()
    assert model.get("k1", "name")[0] == b"new"
    assert model.get("k1", "email")[0] == b"seq-high"
    assert [a for a, _, _ in model.list("k1")] == ["device.d1", "device.d2"]
    assert model.get("k1", "tier") is None


def test_model_follows_writes():
    m = Model.of(_edge_cases())
    m.write("k1", "name", gen.T0_MS + 1, b"older")  # older than the live value
    assert m.get("k1", "name")[0] == b"new"
    m.write("k1", "device.*", gen.T0_MS + 450, delete_wildcard=True)
    assert m.list("k1") == []


def test_benchmark_json_lists_the_per_layer_metrics():
    from layers import PER_LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)
