"""Gateway round trips spent BUILDING lake plans (nothing runs).

Every short query pays its plan building before Spark runs anything,
one py4j round trip (~0.14 ms on a 4-vCPU VM) per JVM call.  These
counts are deterministic, unlike wall time, so a change that brings
back per-call chatter — PySpark's call-site capture on every Column and
``functions`` call, for one (``session.get_spark`` turns it off) —
fails here.  Each pin is an upper bound halfway between the count with
call-site capture (measured: read 805, read_keys 693,
last_writer_wins 435) and without it (235, 223, 105-107).

Proxy-release messages (py4j telling the JVM a Python handle died) are
not counted: they arrive whenever Python frees handles, so their count
in a window is not the plan's.
"""

from __future__ import annotations

import gc
import os

import pytest
from pyspark.sql.types import StructType

from giraffe_etl_spark.lake import Table
from giraffe_etl_spark.lake.table import last_writer_wins

_PROXY_RELEASE = "m\nd\n"


@pytest.fixture()
def gateway_calls(spark, monkeypatch):
    """``calls(fn)``: the gateway round trips ``fn()`` makes, proxy
    releases excluded."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    seen = []

    def counting(command, *args, **kwargs):
        if not command.startswith(_PROXY_RELEASE):
            seen.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def calls(fn) -> int:
        gc.collect()
        seen.clear()
        fn()
        return len(seen)

    return calls


@pytest.fixture()
def table_with_deltas(spark, tmp_root):
    schema = StructType.fromDDL(
        "url string, warc_ts long, lang string, html string, "
        "_lsn long, _deleted boolean"
    )
    t = Table.create(
        spark,
        os.path.join(tmp_root, "t"),
        schema,
        bucket_key="url",
        n_buckets=4,
        properties={"merge.key": "url", "merge.order": "warc_ts,_lsn"},
    )
    t.append(
        spark.createDataFrame(
            [(f"u{i}", 1, "xx", "<p/>", i, False) for i in range(20)], schema
        )
    )
    t.append_deltas(
        None,
        spark.createDataFrame(
            [(f"u{i}", 2, "yy", "<p/>", 100 + i, False) for i in range(0, 20, 3)],
            schema,
        ),
    )
    return t


def test_building_a_merge_on_read_scan(gateway_calls, table_with_deltas):
    snap = table_with_deltas.current_snapshot()
    assert snap.deltas
    assert gateway_calls(lambda: table_with_deltas.read(snap)) <= 520


def test_building_a_point_lookup(gateway_calls, table_with_deltas):
    snap = table_with_deltas.current_snapshot()
    assert gateway_calls(lambda: table_with_deltas.read_keys(["u3"], snap=snap)) <= 458


def test_building_last_writer_wins(gateway_calls, table_with_deltas):
    scan = table_with_deltas.read(reconcile=False)
    assert (
        gateway_calls(lambda: last_writer_wins(scan, "url", ["warc_ts", "_lsn"]))
        <= 271
    )
