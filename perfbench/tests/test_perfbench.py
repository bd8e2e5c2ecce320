"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

import datagen
import metrics
import oracle
import run
import tracing
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- BENCHMARK.json agrees with the code --------------------------------------

def test_benchmark_json_lists_the_metrics_the_code_defines():
    spec = _spec()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] \
        == [tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [m[:3] for m in metrics.PER_LAYER]
    assert [(w["name"], w["why"]) for w in spec["workloads"]] \
        == [(w.name, w.why) for w in WORKLOADS.values()]
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_setup_metric_is_lower_is_better_with_the_largest_bound():
    e2e = {m[0]: m for m in metrics.END_TO_END}
    assert e2e["setup_s"][1:3] == ("s", "lower")
    assert e2e["setup_s"][3] == max(m[3] for m in metrics.END_TO_END) <= 0.25


def _fake_bench(traced: bool) -> run.Bench:
    b = run.Bench(WORKLOADS["interactive"], seed=3, seconds=10, traced=traced)
    b.setup = {"import_s": 0.5, "session_s": 7.0, "prefork_s": 6.0, "warm_s": 20.0}
    b.peak_rss_mb = 1500.0
    b.samples = [0.3, 0.5, 0.4, 0.9, 0.2]
    order = list(b.w.queries)
    b.passes = [{"traced": False, "seconds": 8.0, "order": order},
                {"traced": True, "seconds": 9.0, "order": order}]
    b.layer_rows = [{"pass": 1, "query": q, "api.py4j_calls": 10, "api.construct_s": 0.1,
                     "self.api_s": 0.1, "exec.jobs": 2} for q in order]
    return b


def test_printed_metric_names_equal_benchmark_json():
    spec = _spec()
    assert list(_fake_bench(False).end_to_end()) == [m["name"] for m in spec["end_to_end"]]
    assert sorted(_fake_bench(True).per_layer()) == sorted(m["name"] for m in spec["per_layer"])


def test_per_layer_sums_a_traced_pass_and_reports_overhead():
    b = _fake_bench(True)
    out = b.per_layer()
    n = len(b.w.queries)
    assert out["api.py4j_calls"] == 10 * n
    assert out["exec.jobs"] == 2 * n
    assert out["api.construct_s"] == pytest.approx(0.1 * n)
    assert out["trace.pass_s"] == 9.0
    assert out["trace.overhead"] == pytest.approx(9.0 / 8.0)
    assert out["session.start_s"] == 7.0 and out["session.warm_s"] == 20.0


def test_end_to_end_arithmetic():
    out = _fake_bench(False).end_to_end()
    assert out["setup_s"] == pytest.approx(33.5)
    assert out["pass_s"] == 8.0
    assert out["query_p50_s"] == pytest.approx(0.4)
    assert out["query_p90_s"] == pytest.approx(0.5 + (0.9 - 0.5) * 0.6)


def test_raises_and_oracle_mismatches_count_as_failed_attempts():
    b = run.Bench(WORKLOADS["batch"], seed=1, seconds=1, traced=False)
    b.expected = {q: oracle.fingerprint(["x"], [(1,)]) for q in b.w.queries}

    def fake_query(name, sink, traced=False):
        if name == "q43_ann_cosine":
            raise RuntimeError("boom")
        return 0.1, ["x"], [(2,)] if name == "q93_ngram_dup_coverage" else [(1,)]

    b.run_query = fake_query
    _, order, times = b.run_pass("warm", run.COLLECT, check=True)
    assert sorted(order) == sorted(b.w.queries) and b._pending == []
    assert (b.attempted, b.failed) == (3, 2)
    assert b.oracle["q107_global_ordinals"] == "ok"
    assert b.oracle["q93_ngram_dup_coverage"].startswith("hash")
    assert b.oracle["q43_ann_cosine"].startswith("raised RuntimeError")
    assert set(times) == {"q93_ngram_dup_coverage", "q107_global_ordinals"}


# -- self-time arithmetic -------------------------------------------------------

def _span(name, start, end, parent=None):
    return tracing.Span(name, start, end, parent, "q")


def test_self_time_subtracts_children():
    spans = [_span("query", 0.0, 10.0),
             _span("api", 0.0, 3.0, 0),
             _span("catalyst", 3.5, 4.0, 0),
             _span("exec", 4.0, 9.0, 0)]
    assert tracing.self_times(spans) == pytest.approx([1.5, 3.0, 0.5, 5.0])


def test_self_time_counts_overlapping_children_once_and_clips_to_parent():
    spans = [_span("query", 0.0, 10.0),
             _span("a", 1.0, 4.0, 0),
             _span("b", 3.0, 6.0, 0),   # overlaps a by 1 s
             _span("c", 9.0, 12.0, 0)]  # runs 2 s past its parent
    assert tracing.self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_of_grandchildren_is_charged_to_their_parent_only():
    spans = [_span("query", 0.0, 10.0),
             _span("exec", 2.0, 8.0, 0),
             _span("deliver", 5.0, 7.0, 1)]
    assert tracing.self_times(spans) == pytest.approx([4.0, 4.0, 2.0])


def test_tracer_nests_spans_by_opening_order():
    tr = tracing.Tracer()
    with tr.span("query", "q1"):
        with tr.span("api", "q1"):
            pass
        with tr.span("exec", "q1"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("query", None), ("api", 0), ("exec", 0)]
    total = tr.spans[0].end - tr.spans[0].start
    kids = sum(s.end - s.start for s in tr.spans[1:])
    assert tracing.self_times(tr.spans)[0] == pytest.approx(total - kids)


def test_covered_is_the_length_of_the_union():
    assert tracing.covered([]) == 0.0
    assert tracing.covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


# -- status-store values ----------------------------------------------------------

@pytest.mark.parametrize("text, value", [
    ("1.6 s", 1.6), ("809 ms", 0.809), ("2.5 m", 150.0), ("157.5 KiB", 157.5 * 1024),
    ("1,234", 1234.0), ("0 ms", 0.0), (None, 0.0), ("", 0.0),
    ("total (min, med, max (stageId: taskId))\n2.0 s (0 ms, 1.0 s, 1.0 s (stage 3.0: task 4))",
     2.0),
])
def test_parse_metric(text, value):
    assert tracing.parse_metric(text) == pytest.approx(value)


def test_python_nodes_counts_arrow_and_pandas_operators():
    plan = ("AdaptiveSparkPlan\n+- FlatMapGroupsInArrow [k]\n   +- Exchange\n"
            "+- MapInPandas f\n+- ArrowEvalPython [udf]\n+- HashAggregate")
    assert tracing.python_nodes(plan) == 3


# -- inputs and the oracle ---------------------------------------------------------

def test_datagen_is_fixed_by_the_seed():
    a = datagen.build_tables(5)
    b = datagen.build_tables(5)
    c = datagen.build_tables(6)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["events"].schema.field("ts").type == pa.timestamp("us")
    ts = a["events"].column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    texts = a["documents"].column("text").to_pylist()
    assert a["documents"].column("n_chars").to_pylist() == [len(t) for t in texts]


def test_table_hash_ignores_row_and_column_order():
    rows = [(1, 2.0000000001, "x"), (2, None, "y")]
    swapped = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert oracle.table_hash(["a", "b", "c"], rows) == oracle.table_hash(["c", "a", "b"], swapped)
    got = oracle.fingerprint(["a", "b", "c"], rows)
    assert oracle.mismatch(got, got) is None
    assert "rows" in oracle.mismatch(got, oracle.fingerprint(["a", "b", "c"], rows[:1]))
