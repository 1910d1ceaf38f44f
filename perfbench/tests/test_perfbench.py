"""Tests of the benchmark's own parts; none of them starts Spark.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from spans import CountCalls, Tracer  # noqa: E402

SMALL = {
    "web_ner": {"pages": 20, "sentences": 12, "terms_per_family": 40},
    "entity_canon": {"normal_records": 60, "mega_records": 40, "mega_entities": 4,
                     "max_group": 20, "docs": 40, "clusters": 4, "doc_tokens": 30},
}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_digest(workload):
    assert inputs.digest(workload, 7, SMALL[workload]) == inputs.digest(workload, 7, SMALL[workload])


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_other_seed_other_digest(workload):
    assert inputs.digest(workload, 7, SMALL[workload]) != inputs.digest(workload, 8, SMALL[workload])


def test_page_text_is_the_extraction_of_its_html():
    from pmcanalysis_spark.extract import extract_text_py

    pages = inputs.tables("web_ner", 3, SMALL["web_ner"])["pages"].to_pylist()
    assert all(extract_text_py(p["html"]) == p["text"] for p in pages)


def test_neardup_replay_links_copies_only():
    base = " ".join(f"w{i}" for i in range(60))
    other = " ".join(f"v{i}" for i in range(60))
    half = " ".join(f"w{i}" for i in range(30)) + " " + " ".join(f"v{i}" for i in range(30))
    got = inputs.neardup_replay(["c", "a", "b", "d"], [base, base, other, half])
    assert got == {"a": "a", "c": "a", "b": "b", "d": "d"}


def test_parser_on_recorded_event_log():
    groups = eventlog.group_table(eventlog.read_events(os.path.join(HERE, "data", "small_eventlog.json")))
    assert set(groups) == {"nlp.udf", "cooccur.agg"}
    udf, agg = groups["nlp.udf"], groups["cooccur.agg"]
    assert (udf.jobs, udf.stages, udf.tasks, udf.job_ms) == (1, 1, 2, 1917)
    assert (udf.python_run_ms, udf.python_boot_ms) == (2755, 1714)
    assert (udf.arrow_sent_bytes, udf.arrow_recv_bytes) == (8608, 8352)
    assert udf.records_read == 1000
    assert udf.task_skew == pytest.approx(1690 / 1687)
    assert (agg.jobs, agg.stages, agg.tasks, agg.gc_ms) == (1, 2, 4, 52)
    assert (agg.shuffle_write_bytes, agg.shuffle_read_bytes) == (374, 374)
    assert agg.task_skew == pytest.approx(161 / 158.5)  # the more skewed of the two stages
    assert eventlog.total(groups).tasks == 6


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import workloads

    assert tuple(w["name"] for w in spec["workloads"]) == workloads.WORKLOADS == tuple(inputs.SIZES)


class _Context:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, _description):
        self.groups.append(group)


def test_span_self_time_excludes_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 5.0, 10.0])
    monkeypatch.setattr("spans.time.perf_counter", lambda: next(clock))
    sc = _Context()
    t = Tracer(sc)
    with t.span("lineage.outer"):
        with t.span("cooccur.inner"):
            pass
        with t.span("cooccur.inner", probe=True):
            pass
    recs = t.as_records()
    assert [r["group"] for r in recs] == ["lineage.outer", "cooccur.inner", "cooccur.inner#1"]
    assert [r["parent"] for r in recs] == [None, 0, 0]
    assert recs[0]["self_s"] == pytest.approx(10.0 - 2.0 - 1.0)
    assert recs[2]["probe"] and not recs[1]["probe"]
    assert sc.groups == ["lineage.outer", "cooccur.inner", "lineage.outer", "cooccur.inner#1",
                         "lineage.outer", "trace.root"]


def test_children_of_a_probe_are_probes():
    t = Tracer(_Context())
    with t.span("probe", probe=True):
        with t.span("nlp.detect_doc_terms"):
            pass
    assert [r["probe"] for r in t.as_records()] == [True, True]


def test_traced_functions_nest_as_the_call_tree():
    import types

    mod = types.ModuleType("pmcanalysis_spark.operators.fake")
    mod.inner = lambda x: x + 1
    mod.inner.__module__, mod.inner.__name__ = mod.__name__, "inner"

    def outer(x):
        return mod.inner(x) * 2

    outer.__module__ = mod.__name__
    mod.outer = outer
    original = (mod.inner, mod.outer)
    t = Tracer(_Context())

    def wrap(fn):
        def call(*args):
            with t.span(spans.span_name(fn)):
                return fn(*args)
        return call

    with spans.traced_functions([(mod, ("inner", "outer"))], wrap):
        assert mod.outer(1) == 4
    assert (mod.inner, mod.outer) == original
    assert [(r["name"], r["parent"]) for r in t.as_records()] == [("fake.outer", None), ("fake.inner", 0)]


def test_count_from_the_benchmark_raises():
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.count
    with CountCalls(HERE, forbid=True) as counts:
        with pytest.raises(AssertionError, match="count"):
            DataFrame.count(object())
    assert DataFrame.count is original and counts.program == 0


def test_layer_metrics_take_real_calls_over_probes():
    def span(name, parent, self_s, probe=False, **figures):
        return {"name": name, "group": name, "parent": parent, "self_s": self_s, "probe": probe,
                "figures": {"cached_bytes": 0, "program_counts": 0, **figures}}

    spans = [
        span("workload.run_timed", None, 0.5),
        span("lineage.materialize_stage", 0, 2.0),
        span("probe", None, 0.1, probe=True),
        span("lineage.materialize_stage", 2, 5.0, probe=True),
        span("nlp.detect_doc_terms", 2, 0.25, probe=True, rows=0),
    ]
    spans[3]["group"] = "lineage.materialize_stage#1"
    groups = {"setup.prewarm": eventlog.GroupStats(python_boot_ms=1500),
              "lineage.materialize_stage": eventlog.GroupStats(jobs=9),
              "lineage.materialize_stage#1": eventlog.GroupStats(jobs=7)}
    m = run.layer_metrics({"spans": spans, "groups": groups, "start_s": 1.0, "files_written": 3}, 2.0)
    assert set(m) == set(run.PER_LAYER)
    assert (m["lineage.materialize_s"], m["lineage.jobs"]) == (2.0, 9)
    assert m["nlp.wall_s"] == 0.25 and m["nlp.python_boot_s"] == 1.5
    assert m["trace.layer_sum_s"] == 2.5 and m["trace.overhead_share"] == pytest.approx(0.25)


def test_lgl_at_exact_independence_is_a_rounding_residue():
    import workloads

    # nab * T == na * nb: lam is exactly 0, its rounding bound is ~3e-10
    tol, bound, sign = inputs.lgl_bounds(2890.0, 850.0, 119.0, 35.0)
    exp = {"lgl": float("nan"), "lgl_tol": tol, "lgl_lam_bound": bound, "lgl_sign": sign}
    assert tol >= 2 and sign == 1
    assert workloads._lgl_ok(None, exp) and workloads._lgl_ok(-52.68, exp)  # lam 3.6e-12
    assert not workloads._lgl_ok(-10.0, exp)  # lam 6.7e-3: not a residue of 0
    # away from independence the usual tolerance applies
    tol, bound, sign = inputs.lgl_bounds(2890.0, 850.0, 119.0, 60.0)
    exp = {"lgl": 7.5, "lgl_tol": tol, "lgl_lam_bound": bound, "lgl_sign": sign}
    assert tol < 1e-6 and workloads._lgl_ok(7.5, exp) and not workloads._lgl_ok(7.6, exp)
