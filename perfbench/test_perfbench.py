"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- seeded inputs ---------------------------------------------------------


def test_same_seed_same_orders_and_queries():
    assert inputs.make_orders(7).equals(inputs.make_orders(7))
    assert inputs.query_stream(7, 40) == inputs.query_stream(7, 40)
    assert inputs.query_stream(7, 40) != inputs.query_stream(8, 40)


def test_same_seed_same_corpus_and_batches():
    a, b = inputs.make_corpus(3), inputs.make_corpus(3)
    pd.testing.assert_frame_equal(a.docs, b.docs)
    assert a.planted_pairs == b.planted_pairs and a.split_counts == b.split_counts
    for x, y in zip(inputs.split_batches(a.docs, 3), inputs.split_batches(b.docs, 3)):
        pd.testing.assert_frame_equal(x, y)


def test_query_mix_is_fixed_and_parameters_stay_in_span():
    span_end = inputs.SPAN_START + __import__("datetime").timedelta(days=inputs.SPAN_DAYS)
    orders = inputs.make_orders(1)
    for seed in (1, 2, 3):
        specs = inputs.query_stream(seed, 48)
        assert [s.kind for s in specs] == list(inputs.QUERY_CYCLE) * 6
        for s in specs:
            if s.start is not None:
                assert inputs.SPAN_START <= s.start and s.end <= span_end
            else:
                assert 1995 <= s.year <= 1997
        for s in specs[:8]:
            assert inputs.expected_answer(orders, s)[0] > 0  # no empty read


def test_every_day_partition_is_populated():
    orders = inputs.make_orders(5)
    days = orders["o_orderdate"].to_numpy().astype("datetime64[D]")
    assert len(np.unique(days)) == inputs.SPAN_DAYS


def _quality(text: str) -> float:
    """The library's quality heuristic, in plain Python (operators/text.py)."""
    n = len(text.split(" "))
    awl = (len(text) - n + 1) / n
    hits = (len(text) - len(text.replace(" the ", ""))) // 5
    return round(min(n / 100, 1) * 0.5 + (0.3 if 3 <= awl <= 8 else 0) + min(hits / 3, 1) * 0.2, 4)


def test_corpus_plants_what_it_claims():
    c = inputs.make_corpus(11)
    docs = c.docs.set_index("doc_id")
    assert len(c.planted_pairs) == inputs.CORPUS_NEAR + inputs.CORPUS_EXACT
    assert len({d for pair in c.planted_pairs for d in pair}) == 2 * len(c.planted_pairs)
    assert c.exact_removed == inputs.CORPUS_EXACT
    kept = sum(n for n, _ in c.split_counts.values())
    assert kept == inputs.CORPUS_GOOD + inputs.CORPUS_NEAR
    scores = docs["text"].map(_quality)
    assert (scores >= 0.5).sum() == inputs.CORPUS_GOOD + inputs.CORPUS_NEAR + inputs.CORPUS_EXACT
    for a, b in c.planted_pairs:
        sa, sb = (set(zip(w, w[1:], w[2:])) for w in (docs.text[a].split(" "), docs.text[b].split(" ")))
        assert len(sa & sb) / len(sa | sb) > 0.85


def test_batches_cover_the_corpus_once():
    docs = inputs.make_corpus(2).docs
    batches = inputs.split_batches(docs, 3)
    assert len(batches) == 3 and all(len(b) > 0 for b in batches)
    pd.testing.assert_frame_equal(pd.concat(batches, ignore_index=True), docs)
    digest = inputs.expected_corpus_digest(pd.concat(batches))
    assert digest == inputs.expected_corpus_digest(docs)
    assert set(digest) == set(inputs.LANGS)
    assert sum(v[0] for v in digest.values()) == len(docs)


# -- metrics ---------------------------------------------------------------


def test_benchmark_json_matches_printed_metrics():
    bench = _benchmark_json()
    assert {w["name"] for w in bench["workloads"]} == {"scan_query", "corpus_dedup"}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert bench["paths"] == ["perfbench"]


def test_every_listed_workload_is_registered():
    import workloads

    names = {w["name"] for w in _benchmark_json()["workloads"]}
    assert set(workloads.WORKLOADS) == names
    assert set(run.WORKLOAD_NAMES) == names
    for name, cls in workloads.WORKLOADS.items():
        assert cls.name == name


@pytest.mark.parametrize("units", [run.END_TO_END, run.PER_LAYER])
def test_every_metric_is_printed_with_its_unit(units):
    metrics = {name: 1.5 for name in units}
    lines = run.report(metrics, units)
    assert len(lines) == len(units)
    for line, (name, unit) in zip(lines, units.items()):
        assert line.split()[:3] == [name, "1.5", unit]


def test_end_to_end_and_per_layer_cover_every_metric():
    records = [run.Record("k", 0.1 * (i + 1), 0.2 * (i + 1), 10, True, i % 2 == 0) for i in range(6)]
    e2e = run.end_to_end(records, [2.0, 1.0, 9.0], 512.0)
    assert set(e2e) == set(run.END_TO_END)
    assert e2e["setup_s"] == 2.0 and e2e["op_cpu_mean_s"] == pytest.approx(0.7)
    assert e2e["op_cpu_p50_s"] == pytest.approx(0.7)
    wall, _ = run.wall_figures(records, [3.0, 1.0, 2.0])
    assert set(wall) == set(run.WALL_METRICS)
    assert wall["setup_wall_s"] == 2.0 and wall["ops_per_s"] == pytest.approx(6 / 2.1)

    t = tracing.Tracer()
    t.op = 0
    with t.span("bench.op"):
        with t.span("api.read"):
            pass
    t.count("api.read_calls")
    layer = run.per_layer(records, t, {0: {"jobs": 2, "stages": 3, "tasks": 4, "plan_jobs": 1}}, {}, [1.0])
    assert set(layer) == set(run.PER_LAYER)
    assert layer["api.read_calls"] == 1 / 3 and layer["spark.tasks"] == 4 / 3
    assert layer["trace.overhead_s"] == pytest.approx(0.3 - 0.4)  # traced minus untraced median


def test_tree_cpu_counts_this_process_and_its_children():
    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\ninput()"],
                             stdin=subprocess.PIPE)
    time.sleep(1.5)  # the child is alive, its CPU time its own
    alive = run.tree_cpu_s()
    child.communicate(b"\n", timeout=30)  # reaped: its time moves to ours
    assert alive - before >= 0.4
    assert run.tree_cpu_s() - before >= 0.4


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))
    assert run.tail(xs) == (90, 90.0, 10)
    assert run.tail(xs[:12]) == (11, 90.0, 1)  # too few samples: nearest-rank p90
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 90.0, 0)
    assert run.tail(list(range(1, 1001))) == (990, 99.0, 10)


def test_self_time_subtracts_union_of_children():
    S = tracing.Span
    spans = [
        S(1, "api.read", 0.0, 10.0, None, 0),
        S(2, "fs.ls", 1.0, 4.0, 1, 0),
        S(3, "fs.ls", 2.0, 5.0, 1, 0),  # overlaps the first listing
        S(4, "discovery.walk", 6.0, 8.0, 1, 0),
    ]
    selfs = tracing.self_times(spans)
    assert selfs["api"] == pytest.approx(10 - 4 - 2)
    assert selfs["fs"] == pytest.approx(6.0)
    assert tracing.layer_totals(spans)["fs.ls"] == pytest.approx(6.0)


def test_wrappers_restore_the_library():
    pytest.importorskip("pyspark")
    import fsql_spark.api as api
    import fsql_spark.queries as queries

    before = (api.read_partitioned_table, vars(queries.DateRangeQuery)["eval_all"])
    t = tracing.Tracer()
    q = queries.DateRangeQuery("1995/01/01", "1995/02/01")
    with tracing.Wrappers(t).installed():
        assert api.read_partitioned_table is not before[0]
        assert q.eval_all({"year": "1995", "month": "1", "day": "9"})
    assert not q.eval_all({"year": "1995", "month": "3", "day": "9"})
    assert (api.read_partitioned_table, vars(queries.DateRangeQuery)["eval_all"]) == before
    assert t.counts == {(None, "queries.eval_calls"): 1}


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scan_query", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "{" not in proc.stdout
