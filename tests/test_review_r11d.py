"""Regression pins for the round-11 fourth review batch (processor
shell, common utilities)."""

from datetime import timedelta

import pytest


def test_strftime_microseconds_parse_fully(spark):
    """%f maps to SSSSSS (1-6 fraction digits, Python parity) — the old
    SSS silently NULLed 6-digit microsecond data in non-ISO formats."""
    from pyspark.sql import functions as F

    from feathub_spark.common.time_utils import event_time_sql

    df = spark.createDataFrame(
        [("01/02/2024 00:00:00.123456",), ("01/02/2024 00:00:00.9",)],
        "t string",
    )
    sql = event_time_sql("t", "%m/%d/%Y %H:%M:%S.%f")
    vals = [r[0] for r in df.select(F.expr(sql)).collect()]
    assert all(v is not None for v in vals)
    assert vals[0].microsecond == 123456


def test_protowire_map_entry_defaults_and_wire_mismatch():
    """A map entry omitting its default-valued key/value decodes to the
    proto3 default (never a None map key), and a wire-type/dtype
    mismatch raises instead of desynchronizing the parse."""
    from feathub_spark.common import types as t
    from feathub_spark.common.exceptions import FeathubError
    from feathub_spark.common.protowire import (
        FieldSpec,
        decode_message,
        encode_row,
    )

    mt = t.MapType(t.Int64, t.Float64)
    specs = [FieldSpec("m", 1, mt)]
    # entry with key omitted (key = 0): field 2 (double 1.5) only
    import struct

    entry = b"\x11" + struct.pack("<d", 1.5)  # tag(2,fixed64) + value
    buf = b"\x0a" + bytes([len(entry)]) + entry  # tag(1,len) + entry
    row = decode_message(buf, specs)
    assert row["m"] == {0: 1.5}

    # wire mismatch: declared int64 but encoded as fixed64
    specs2 = [FieldSpec("x", 1, t.Int64)]
    bad = b"\x09" + struct.pack("<d", 2.0)  # tag(1,fixed64)
    with pytest.raises(FeathubError, match="wire type"):
        decode_message(bad, specs2)
    # round-trip still clean
    enc = encode_row({"m": {3: 0.5}}, specs)
    assert decode_message(enc, specs)["m"] == {3: 0.5}


def test_release_caches_concurrent_threads():
    """Concurrent release_caches() calls (one per streaming query's
    foreachBatch thread) must not race the registries."""
    import threading

    from feathub_spark.common import caching

    class _FakeDF:
        def unpersist(self):
            return self

    with caching._LOCK:
        pass  # lock exists and is acquirable
    for _ in range(200):
        caching._ACTIVE.append(_FakeDF())
    errs = []

    def worker():
        try:
            caching.release_caches()
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs and not caching._ACTIVE
