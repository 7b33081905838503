"""Result comparators and the DuckDB references (no Spark needed)."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs

HERE = os.path.dirname(os.path.abspath(__file__))


def test_compare_ignores_order_and_value_types():
    got = checks.Table(["b", "a"], [(2, "x"), (decimal.Decimal("1.50"), "y")])
    want = checks.Table(["a", "b"], [("y", 1.5), ("x", 2.0)])
    assert checks.compare(got, want) is None


def test_compare_reports_each_kind_of_mismatch():
    base = checks.Table(["a"], [(1,), (2,)])
    assert "columns" in checks.compare(checks.Table(["z"], [(1,), (2,)]), base)
    assert "row count" in checks.compare(checks.Table(["a"], [(1,)]), base)
    assert "differing" in checks.compare(checks.Table(["a"], [(1,), (3,)]), base)


def test_norm_value_forms():
    assert checks.norm_value(None) == "NULL"
    assert checks.norm_value(float("nan")) == "NULL"
    assert checks.norm_value(np.int64(7)) == "7"
    assert checks.norm_value(7.0) == "7"
    assert checks.norm_value(0.1 + 0.2) == checks.norm_value(0.3)
    assert checks.norm_value(True) == "True"
    aware = dt.datetime(2025, 1, 1, 1, 0, tzinfo=dt.timezone(dt.timedelta(hours=1)))
    assert checks.norm_value(aware) == checks.norm_value(dt.datetime(2025, 1, 1, 0, 0))
    assert checks.norm_value([1, 2.0]) == "[1,2]"
    assert checks.norm_value({"b": 1, "a": None}) == "{a:NULL,b:1}"


def test_fingerprint_is_order_insensitive_and_value_sensitive():
    a = checks.Table(["k", "v"], [(1, "x"), (2, "y")])
    b = checks.Table(["v", "k"], [("y", 2), ("x", 1)])
    c = checks.Table(["k", "v"], [(1, "x"), (2, "z")])
    assert checks.fingerprint(a) == checks.fingerprint(b)
    assert checks.fingerprint(a) != checks.fingerprint(c)
    assert checks.fingerprint(a)[0] == 2


def _write_turns(path, rows):
    table = pa.table({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": ["user"] * len(rows),
        "text": [r[2] for r in rows],
        "tool": [r[3] for r in rows],
        "ts": pa.array([dt.datetime(2025, 1, 1, 0, i) for i in range(len(rows))], pa.timestamp("us", "UTC")),
    })
    pq.write_table(table, path)


def test_pipeline_reference_unwinds_routes_and_counts(tmp_path):
    src = str(tmp_path / "t.parquet")
    _write_turns(src, [
        ("c1", 0, "ns=db0.a op:i id=c1 hello", "t00"),
        ("c1", 1, "ns=db0.a op:u id=c1 x diff={}", "t01"),
        ("c2", 0, "ns=config.system.sessions op:i id=c2 sys", "t00"),
        ("c2", 1, "ns=db1.b op:c id=c2 batch sub:db1.s0/i;db1.s1/u", "zz"),
    ])
    con = checks.connect(1)
    ref = checks.pipeline_reference(con, [src], [("t00", "search"), ("t01", "code")])
    rows = {(r[0], r[1]): r for r in ref.rows}
    assert set(rows) == {("search", "db0.a"), ("code", "db0.a"), ("uncat", "db1.s0"), ("uncat", "db1.s1")}
    assert rows[("search", "db0.a")][2] == 1  # op_count
    assert rows[("uncat", "db1.s0")][3] == 1  # n_insert from the unwound sub-op
    assert rows[("uncat", "db1.s1")][4] == 1  # n_update


def test_tail_reference_buckets_and_system_filter(tmp_path):
    src = str(tmp_path / "t.parquet")
    long_text = "ns=db0.a op:i id=c1 " + "w" * 1200
    _write_turns(src, [
        ("c1", 0, "ns=db0.a op:i id=c1 hi", "t00"),
        ("c1", 1, long_text, "t00"),
        ("c2", 0, "ns=config.x op:i id=c2", "t00"),
    ])
    ref = checks.tail_reference(checks.connect(1), [src], (1000, 10000))
    assert ref.columns[-3:] == ["gt_1000", "gt_10000", "avg_size"]
    (row,) = ref.rows
    assert row[:3] == ("db0.a", "i", 2)
    assert row[-3:-1] == (1, 0)


def test_battery_tables_are_seeded_and_shaped():
    a = inputs.battery_tables(3, 0.001)
    b = inputs.battery_tables(3, 0.001)
    c = inputs.battery_tables(4, 0.001)
    assert set(a) == set(inputs.BATTERY_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    emb = a["embeddings"].column("embedding").to_pylist()
    assert all(len(v) == 64 for v in emb)
    assert abs(sum(x * x for x in emb[0]) - 1.0) < 1e-5


def test_benchmark_json_lists_every_reported_metric():
    from perfbench import run

    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer_units()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
