"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer, layer_totals, self_times, union_length  # noqa: E402


def _staged_digest(tmp_path, seed: int, name: str) -> str:
    gen.write_tables(gen.make_tables(seed, 0.001), str(tmp_path / name / "sf"))
    gen.stage_slices(seed, 2, 3, 100, str(tmp_path / name / "stage"), warm_files=1)
    gen.write_table(gen.orders_with_seq(seed, 500), str(tmp_path / name / "orders.parquet"))
    return gen.digest(str(tmp_path / name))


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _staged_digest(tmp_path, 7, "a") == _staged_digest(tmp_path, 7, "b")
    assert gen.lake_ops(7, 2000, 40, 10, 6, 50) == gen.lake_ops(7, 2000, 40, 10, 6, 50)
    assert gen.entry_order(7, run.MIX) == gen.entry_order(7, run.MIX)


def test_other_seed_gives_other_inputs(tmp_path):
    assert _staged_digest(tmp_path, 7, "a") != _staged_digest(tmp_path, 8, "b")
    assert gen.lake_ops(7, 2000, 40, 10, 6, 50) != gen.lake_ops(8, 2000, 40, 10, 6, 50)


def test_staged_slices_are_contiguous_and_sized(tmp_path):
    import pyarrow.parquet as pq

    out = gen.stage_slices(3, 2, 4, 1000, str(tmp_path), warm_files=2)
    assert [len(w) for w in out["waves"]] == [2, 4, 4]
    ids = []
    for wave in out["waves"]:
        for p in wave:
            t = pq.read_table(p)
            assert 900 <= t.num_rows <= 1100
            ids.extend(t.column("event_id").to_pylist())
    assert ids == list(range(out["rows"]))


def test_lake_ops_shape():
    ops = gen.lake_ops(5, 20_000, 30, cycle=10, upsert_at=6, upsert_keys=50)
    kinds = [o["op"] for o in ops]
    assert [i for i, k in enumerate(kinds) if k == "upsert"] == [6, 16, 26]
    for o in ops:
        if o["op"] == "upsert":
            assert len(set(o["keys"])) == 50
            assert min(o["keys"]) >= 20_000 - 1000  # newest 5% of orders
    cols = {o["col"] for o in ops if o["op"] == "lookup"}
    assert cols == {"o_orderkey", "o_custkey"}


def test_event_checksum_matches_between_slices_and_whole(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = gen.stage_slices(4, 1, 3, 200, str(tmp_path))
    parts = [pq.read_table(p) for w in out["waves"] for p in w]
    whole = run.event_checksum(pa.concat_tables(parts))
    assert whole[0] == whole[1] == out["rows"]
    assert whole[2] == sum(run.event_checksum(p)[2] for p in parts)


# ------------------------------------------------------------- event log
SMALL_LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def test_eventlog_reader_on_captured_log():
    """The log was captured from a local[2] Spark 4.1 session: a
    group-by (job group op-1), then a mapInPandas and a pandas_udf
    collect (job group op-2), 100 + 50 rows sent to Python workers."""
    events = eventlog.read_events(SMALL_LOG)
    ops = [
        {"id": 1, "group": "op-1", "start": 0.0, "end": 0.0},
        {"id": 2, "group": "op-2", "start": 0.0, "end": 0.0},
    ]
    out = eventlog.summarize(events, (0.0, 4e9), cores=2, ops=ops)
    assert out["spark.jobs"] == 4
    assert out["spark.stages"] == 4
    assert out["spark.tasks"] == 7
    assert out["op_jobs"] == {1: 2, 2: 2}
    assert out["python.rows_to_worker"] == 150
    assert out["python.bytes_to_worker"] > 0
    assert out["python.bytes_from_worker"] > 0
    assert out["spark.shuffle_read_bytes"] == out["spark.shuffle_write_bytes"] > 0
    assert 0 < out["spark.job_s"] < 10
    assert 0 < out["spark.util"] <= 1.0


def test_eventlog_window_excludes_other_jobs():
    events = eventlog.read_events(SMALL_LOG)
    starts = sorted(
        e["Submission Time"] / 1000.0
        for e in events
        if e["Event"] == "SparkListenerJobStart"
    )
    out = eventlog.summarize(events, (starts[2], 4e9), cores=2)
    assert out["spark.jobs"] == 2
    assert out["python.rows_to_worker"] in (100, 50, 150)


def test_eventlog_maps_jobs_by_time_without_group():
    events = eventlog.read_events(SMALL_LOG)
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            e["Properties"] = {}
    t0 = min(e["Submission Time"] for e in events if "Submission Time" in e) / 1000.0
    ops = [{"id": 9, "start": t0 - 1, "end": t0 + 1e6}]
    assert eventlog.summarize(events, (0.0, 4e9), 2, ops)["op_jobs"] == {9: 4}


# ----------------------------------------------------------------- spans
def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "parent": None, "name": "op", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "a", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "b", "start": 3.0, "end": 5.0},
        {"id": 4, "parent": 2, "name": "c", "start": 2.0, "end": 3.0},
    ]
    own = self_times(spans)
    assert own == {1: 6.0, 2: 2.0, 3: 2.0, 4: 1.0}
    assert layer_totals(spans, "a") == {"calls": 1, "s": 3.0, "self_s": 2.0}


def test_tracer_wraps_and_restores():
    class Table:
        def append(self, x):
            return x + 1

    tr = Tracer(True)
    original = Table.append
    tr.wrap(Table, "append", "lakehouse.append")
    with tr.op("entry"):
        assert Table().append(1) == 2
        with tr.paused():
            Table().append(1)
    tr.uninstall()
    assert Table.append is original
    names = [s["name"] for s in tr.spans]
    assert names == ["lakehouse.append", "entry"]
    assert tr.spans[0]["parent"] == tr.spans[1]["id"] == tr.spans[0]["op"]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.op("entry"), tr.span("x"):
        pass
    assert tr.spans == []


# --------------------------------------------------------------- summary
def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_run_metrics():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
def test_summary_line_schema(trace):
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    values = {n: 1.5 for n in names}
    line = run.summary_line(True, 10, 0, values, trace)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == set(names)
    for v in out["metrics"].values():
        assert set(v) == {"value", "unit"}


def test_mix_is_part_of_bench_queries():
    sys.path.insert(0, os.path.dirname(BENCH))
    import bench

    assert set(run.MIX) <= set(bench.BENCH_QUERIES)


def test_p90_is_a_sample_of_the_slow_mode():
    assert run.p90([1.0] * 6 + [10.0]) == 10.0  # six plain pairs, one slow
    assert run.p90([1.0] * 8 + [5.0, 6.0]) == 5.0  # two compaction batches
    assert run.p90([0.2]) == 0.2
