"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import gen
import metrics
import workloads
from eventlog import EventLog
from tracing import Span, self_seconds, union_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL_LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


T0 = 1792208098.0  # just before the recorded log's first job


def _span(name: str, sid: int, start: float, end: float, parent: int | None = None) -> Span:
    s = Span(name, sid, parent, 1)
    s.start, s.end = T0 + start, T0 + end
    return s


def test_eventlog_layers_per_span_from_recorded_log():
    """A recorded log of two calls: ``a`` ran an Arrow/Python stage
    feeding a shuffle (jobs 0 and 1), ``b`` a JVM-only count (jobs 2
    and 3)."""
    log = EventLog(SMALL_LOG)
    a, b = _span("a", 0, 0.0, 2.6), _span("b", 1, 2.6, 2.8)
    owner = log.attribute([a, b])
    assert {j for j, s in owner.items() if s is a} == {0, 1}
    assert {j for j, s in owner.items() if s is b} == {2, 3}
    ta, tb = log.totals({0, 1}), log.totals({2, 3})
    assert (ta["jobs"], ta["stages"], ta["tasks"]) == (2, 2, 5)
    assert (tb["jobs"], tb["stages"], tb["tasks"]) == (2, 2, 5)
    assert ta["input_records"] == 100_000
    assert abs(ta["executor_run_s"] - 7.869) < 1e-9
    assert abs(ta["executor_cpu_s"] - 1.12715655) < 1e-9
    assert abs(ta["gc_s"] - 0.268) < 1e-9
    assert ta["shuffle_write_mb"] * (1 << 20) == 921
    assert ta["shuffle_read_mb"] * (1 << 20) == 921
    assert abs(ta["python.run_s"] - 6.411) < 1e-9
    assert abs(ta["python.start_s"] - 3.378) < 1e-9
    assert abs(ta["python.init_s"] - 2.112) < 1e-9
    assert ta["python.sent_mb"] * (1 << 20) == 827264
    assert ta["python.returned_mb"] * (1 << 20) == 802112
    assert tb["python.run_s"] == 0 and tb["python.sent_mb"] == 0
    # a lasts 2.6 s; its jobs ran 98.043-100.290 and 100.403-100.522.
    assert abs(log.driver_gap_s([a]) - (2.6 - 2.247 - 0.119)) < 1e-5
    # b lasts 0.2 s; its jobs ran 100.649-100.698 and 100.733-100.764.
    assert abs(log.driver_gap_s([b]) - (0.2 - 0.049 - 0.031)) < 1e-5
    assert abs(log.driver_gap_s([a, b]) - log.driver_gap_s([a]) - log.driver_gap_s([b])) < 1e-9


def test_eventlog_attributes_jobs_to_innermost_span():
    log = EventLog(SMALL_LOG)
    outer = _span("pass", 0, 0.0, 3.0)
    inner = _span("operators.x", 1, 2.5, 2.8, parent=0)
    owner = log.attribute([outer, inner])
    assert owner[0] is outer and owner[1] is outer
    assert owner[2] is inner and owner[3] is inner


def test_self_time_subtracts_union_of_children():
    parent = Span("p", 0, None, 1)
    parent.start, parent.end = 0.0, 10.0
    c1, c2 = Span("c", 1, 0, 1), Span("c", 2, 0, 1)
    c1.start, c1.end = 1.0, 4.0
    c2.start, c2.end = 3.0, 6.0
    assert union_seconds([(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]) == 6.0
    assert self_seconds([parent, c1, c2])[0] == 5.0


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def make(seed, d):
        recs, mask = gen.laygo_records(seed, 500)
        table = gen.documents(seed, 300)
        gen.write_shards(table, gen.shard_of(seed, 300, 3), 3, str(d / "shards"))
        gen.tpch_tables(seed, 300, str(d / "tpch"))
        order = gen.tpch_order(seed, workloads.TPCH_SHAPES)
        return json.dumps([recs, mask, order]).encode(), _files(d / "shards"), _files(d / "tpch")

    a = make(7, tmp_path / "a")
    b = make(7, tmp_path / "b")
    c = make(8, tmp_path / "c")
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_inputs_have_work_for_every_check():
    recs, mask = gen.laygo_records(1, 5000)
    assert 0 < sum(mask) < len(mask)
    assert all(r["qty_raw"] == "n/a" for r, m in zip(recs, mask) if m)
    table = gen.documents(1, 1000)
    texts = table.column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # planted exact duplicates
    shards = gen.shard_of(1, 1000, 3)
    assert set(shards.tolist()) == {0, 1, 2}
    assert sorted(gen.tpch_order(1, workloads.TPCH_SHAPES)) == sorted(workloads.TPCH_SHAPES)


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m[:3]) for m in metrics.PER_LAYER
    ]
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
