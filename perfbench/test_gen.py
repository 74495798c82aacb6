"""The seeded event generator: deterministic bytes, seed sensitivity, and
events that match the engine's raw Keycloak schemas."""

from __future__ import annotations

import json

import gen
from pyspark.sql import types as T

from keycloak_event_stream_spark.sources.keycloak import (
    RAW_ADMIN_EVENT_SCHEMA,
    RAW_USER_EVENT_SCHEMA,
)

SHAPE = gen.Shape(n_user=3000, n_admin=300, days=2, late_share=0.05, poison_share=0.01)


def _files(tmp_path, seed: int) -> bytes:
    es = gen.generate(seed, SHAPE)
    out = b""
    for kind, lines in (("user", es.user_lines), ("admin", es.admin_lines)):
        for p in gen.write_files(lines, str(tmp_path / f"s{seed}" / kind), 3, kind):
            with open(p, "rb") as fh:
                out += fh.read()
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _files(tmp_path / "a", 7)
    b = _files(tmp_path / "b", 7)
    c = _files(tmp_path / "c", 8)
    assert a == b
    assert a != c


def _conforms(value, dtype) -> bool:
    if value is None:
        return True
    if isinstance(dtype, T.StringType):
        return isinstance(value, str)
    if isinstance(dtype, T.LongType):
        return isinstance(value, int) and not isinstance(value, bool)
    if isinstance(dtype, T.MapType):
        return isinstance(value, dict) and all(
            _conforms(k, dtype.keyType) and _conforms(v, dtype.valueType) for k, v in value.items()
        )
    if isinstance(dtype, T.StructType):
        return isinstance(value, dict) and _matches(value, dtype)
    raise AssertionError(f"unexpected schema type {dtype}")


def _matches(obj: dict, schema: T.StructType) -> bool:
    return list(obj) == schema.fieldNames() and all(
        _conforms(obj[f.name], f.dataType) for f in schema.fields
    )


def _parse(line: str):
    try:
        return json.loads(line)
    except json.JSONDecodeError:
        return None


def test_events_match_raw_schemas_and_poison_lines_do_not_parse():
    es = gen.generate(3, SHAPE)
    assert len(es.user) == SHAPE.n_user and len(es.admin) == SHAPE.n_admin
    assert all(_matches(e, RAW_USER_EVENT_SCHEMA) for e in es.user)
    assert all(_matches(e, RAW_ADMIN_EVENT_SCHEMA) for e in es.admin)

    good = bad = 0
    for line in es.user_lines + es.admin_lines:
        obj = _parse(line)
        if isinstance(obj, dict) and _matches(obj, RAW_USER_EVENT_SCHEMA if "type" in obj
                                              else RAW_ADMIN_EVENT_SCHEMA):
            good += 1
        else:
            bad += 1
    assert good == SHAPE.n_user + SHAPE.n_admin
    assert bad == es.n_poison > 0


def test_arrival_order_with_stated_late_share():
    es = gen.generate(5, gen.Shape(n_user=20000, n_admin=0, days=2, late_share=0.05))
    times = [e["time"] for e in es.user]
    # on-time events carry their arrival time, so they are sorted; a late
    # event is older than the arrival time before it
    late = sum(1 for prev, t in zip(times, times[1:]) if t < prev)
    assert 0.04 < late / len(times) < 0.06
    assert min(times) >= gen.Shape(1, 1).end_ms - 2 * gen.DAY_MS
    assert max(times) < gen.Shape(1, 1).end_ms
