"""Unit tests for the benchmark's helpers. Run: python3 -m pytest perfbench"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, and the checkout's root for tests.oracle_utils

from measure import (  # noqa: E402
    Trace,
    covered,
    digest_pandas,
    layer_of_module,
    percentile,
    python_nodes,
    tail_percentile,
)
from run import stream_metrics  # noqa: E402
from workloads import generate_lines, job_group, sample_queries  # noqa: E402


# -- tail percentile -----------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(1, 100.0), (19, 100.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p < 100:
        values = list(range(n))
        assert sum(v > percentile(values, p) for v in values) >= 10


def test_percentile_nearest_rank():
    assert percentile([3, 1, 2, 4], 50) == 2
    assert percentile([3, 1, 2, 4], 75) == 3
    assert percentile([5], 99.9) == 5
    assert percentile(list(range(1, 101)), 90) == 90


# -- spans -----------------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 9), (2, 3)], 0, 10) == 8


def test_self_time_subtracts_union_of_children():
    tr = Trace()
    q = tr.add("query", 0.0, 10.0)
    b = tr.add("build", 0.0, 4.0, q)
    tr.add("exec", 4.0, 10.0, q)
    tr.add("job", 1.0, 2.0, b)
    tr.add("job", 1.5, 3.0, b)  # overlaps the first job
    assert tr.self_time(q) == pytest.approx(0.0)
    assert tr.self_time(b) == pytest.approx(2.0)
    grandchild_only = tr.add("pass", 0.0, 20.0)
    assert tr.self_time(grandchild_only) == pytest.approx(20.0)


def test_job_groups_name_pass_and_operation():
    assert job_group(0, "d05_left_outer_join") == "p0:d05_left_outer_join"
    assert job_group(-1, "ml.fit") != job_group(1, "ml.fit")


def test_stream_metrics_per_pass_and_last_batch_state():
    def batch(run, start, rows, commit):
        ms = {"queryPlanning": 10, "addBatch": 100, "walCommit": 5, "commitOffsets": 4}
        return {"run": run, "start": start, "ms": ms, "state": [(rows, commit, 10 * rows)]}

    batches = [batch("a", 1.0, 5, 7), batch("a", 2.0, 8, 3), batch("b", 11.0, 2, 1), batch("c", 50.0, 99, 99)]
    m = stream_metrics(batches, [(0.0, 10.0), (10.0, 20.0)])  # "c" ran outside the timed passes
    assert m["streaming.batches"] == 1.5
    assert m["streaming.add_batch_ms"] == 150
    assert m["streaming.state_commit_ms"] == 5.5
    assert m["streaming.state_rows"] == 5  # (8 + 2) / 2: each stream's last batch
    assert m["streaming.state_mem_bytes"] == 50


def test_innermost_picks_shortest_enclosing_span():
    tr = Trace()
    p = tr.add("pass", 0.0, 10.0)
    b = tr.add("build", 1.0, 4.0, p)
    c = tr.add("catalog.table", 1.5, 2.0, b)
    ids = [p, b, c]
    assert tr.innermost(1.7, ids) == c
    assert tr.innermost(3.0, ids) == b
    assert tr.innermost(9.0, ids) == p
    assert tr.innermost(11.0, ids) is None
    assert tr.innermost(0.999, [b], slack=0.002) == b


# -- attribution ----------------------------------------------------------------


@pytest.mark.parametrize(
    "module, layer",
    [
        ("conceptnetwork_spark.operators.relational", "relational"),
        ("conceptnetwork_spark.operators.graph", "graph"),
        ("conceptnetwork_spark.streaming.ops", "streaming.ops"),
        ("conceptnetwork_spark.sources.tfrecord", "sources.tfrecord"),
        ("conceptnetwork_spark.catalog", "catalog"),
        ("conceptnetwork_spark", None),
        ("pyspark.sql.dataframe", None),
        ("workloads", None),
    ],
)
def test_layer_of_module(module, layer):
    assert layer_of_module(module) == layer


def test_python_nodes_counts_python_operators():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- ArrowEvalPython [f(x#1)#5], [pythonUDF0#9], 200
   +- MapInPandas decode(path#1, content#2)#3, [a#4]
      +- BatchEvalPython [g(y#2)#6], [pythonUDF1#10]
         +- FileScan parquet [x#1,y#2]"""
    assert python_nodes(plan) == 3
    assert python_nodes("HashAggregate(keys=[a#1])\n+- FileScan parquet") == 0


# -- result digest -------------------------------------------------------------


def frame(**cols):
    return pd.DataFrame(cols)


def test_digest_ignores_row_order_and_column_case():
    a = frame(k=[1, 2, 3], v=[0.5, 1.25, None], s=["x", "y", None])
    b = a.iloc[[2, 0, 1]].rename(columns={"k": "K"})
    assert digest_pandas(a) == digest_pandas(b)


def test_digest_sees_values_counts_and_names():
    a = frame(k=[1, 2, 2], v=[0.5, 1.0, 1.0])
    assert digest_pandas(a) != digest_pandas(frame(k=[1, 2, 2], v=[0.5, 1.0, 1.5]))
    assert digest_pandas(a) != digest_pandas(frame(k=[1, 2], v=[0.5, 1.0]))  # duplicate rows count
    assert digest_pandas(a) != digest_pandas(frame(k=[1, 2, 2], w=[0.5, 1.0, 1.0]))
    assert digest_pandas(a).rows == 3 and digest_pandas(a).columns == ("k", "v")


def test_digest_follows_the_repository_oracle_rule():
    from tests.oracle_utils import _norm_cell

    # one rule for the benchmark and the repository's oracle tests
    assert _norm_cell(-0.0) == ("f", "-0.0") and _norm_cell(2) == ("i", 2)
    assert digest_pandas(frame(v=[1.0, float("nan")])) == digest_pandas(frame(v=[float("nan"), 1.0000001]))


def test_digest_is_type_strict_and_rounds_floats():
    assert digest_pandas(frame(v=[3])) != digest_pandas(frame(v=[3.0]))
    assert digest_pandas(frame(v=[0.0])) != digest_pandas(frame(v=[-0.0]))
    assert digest_pandas(frame(v=[0.1 + 0.2])) == digest_pandas(frame(v=[0.3]))
    assert digest_pandas(frame(v=[1.0000001])) != digest_pandas(frame(v=[1.00001]))


def test_digest_of_nested_and_empty_results():
    arrays = frame(a=[[1, 2], [3]])
    assert digest_pandas(arrays) == digest_pandas(arrays.iloc[::-1])
    assert digest_pandas(arrays) != digest_pandas(frame(a=[[2, 1], [3]]))
    empty = pd.DataFrame({"k": pd.Series([], dtype="int64")})
    assert digest_pandas(empty).rows == 0


# -- workload inputs -----------------------------------------------------------


def test_sample_takes_one_query_per_module_then_fills():
    modules = {f"d{i:02d}_q{j}": ("relational" if j < 8 else f"m{j}") for i in range(1, 17) for j in range(10)}
    picked = sample_queries(modules, 5)
    assert len(picked) == 5
    assert {"m8", "m9"} <= {modules[q] for q in picked}
    assert picked == sample_queries(dict(reversed(list(modules.items()))), 5)
    # more modules than the budget: every module still gets its query
    assert {modules[q] for q in sample_queries(modules, 1)} == {"relational", "m8", "m9"}


def test_sample_is_stable_under_additions():
    modules = {f"d{i:02d}_q{j}": f"m{j % 3}" for i in range(1, 17) for j in range(10)}
    base = sample_queries(modules, 10)
    assert len(set(base) - set(sample_queries({**modules, "d99_new": "m0"}, 10))) <= 1


def test_generated_lines_match_expectations(tmp_path):
    path = str(tmp_path / "lines.txt")
    want = generate_lines(path, 2000, seed=7)
    valid = unknown = id_sum = 0
    with open(path) as f:
        for line in f:
            parts = line.strip().split(",")
            if len(parts) >= 2:
                valid += 1
                unknown += parts[1].lower() not in ("m", "male", "f", "female")
                id_sum += int(parts[0])
    assert want == {"rows": valid, "unknown": unknown, "id_sum": id_sum}
    assert 0.9 * 2000 < valid < 2000 and unknown > 0
    assert generate_lines(str(tmp_path / "again.txt"), 2000, seed=7) == want
