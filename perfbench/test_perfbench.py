"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gate, run, trace, workloads

REF = [{"value": 1000.0, "n": 5000}]


def _row(est, lo, hi, n=100):
    return [{"v": est, "ci_lower": lo, "ci_upper": hi, "n_samples": n}]


# -- the gate catches what it must -------------------------------------------


def test_gate_passes_a_good_estimate():
    v = gate.check_approx(_row(1010.0, 990.0, 1030.0), "v", (), REF)
    assert v.failures == []
    assert v.estimates[0].covered


def test_gate_catches_a_wrong_estimate():
    # half-width 20, error 200 > 5 x 20
    v = gate.check_approx(_row(1200.0, 1180.0, 1220.0), "v", (), REF)
    assert any("half-width" in f for f in v.failures)


def test_gate_catches_a_ci_that_excludes_its_own_estimate():
    v = gate.check_approx(_row(1000.0, 1010.0, 1030.0), "v", (), REF)
    assert any("outside its CI" in f for f in v.failures)


def test_gate_catches_a_within_answer_over_budget():
    # relative half-width 3% against a 2% budget, fraction still below 1
    v = gate.check_approx(_row(1000.0, 970.0, 1030.0), "v", (), REF,
                          budget_pct=2.0, fraction=0.16)
    assert any("budget missed" in f for f in v.failures)
    ok = gate.check_approx(_row(1000.0, 970.0, 1030.0), "v", (), REF,
                           budget_pct=2.0, fraction=1.0)
    assert ok.failures == []


def test_gate_catches_n_samples_out_of_range_and_non_finite():
    assert gate.check_approx(_row(1000.0, 990.0, 1010.0, n=0), "v", (), REF).failures
    assert gate.check_approx(_row(1000.0, 990.0, 1010.0, n=5001), "v", (), REF).failures
    assert gate.check_approx(_row(float("nan"), 990.0, 1010.0), "v", (), REF).failures


def test_gate_checks_every_group():
    ref = [{"g": "A", "value": 10.0, "n": 50}, {"g": "B", "value": 20.0, "n": 50}]
    rows = [{"g": "A", "v": 10.0, "ci_lower": 9.0, "ci_upper": 11.0, "n_samples": 5},
            {"g": "B", "v": 40.0, "ci_lower": 39.0, "ci_upper": 41.0, "n_samples": 5}]
    v = gate.check_approx(rows, "v", ("g",), ref)
    assert len(v.failures) == 1 and "('B',)" in v.failures[0]
    assert gate.check_approx(rows[:1], "v", ("g",), ref).failures  # missing group


def test_exact_answers_match_to_the_cent():
    assert gate.check_exact([{"s": 1000.004}], "s", (), REF).failures == []
    assert gate.check_exact([{"s": 1000.02}], "s", (), REF).failures


def test_index_probe_rules():
    ref = [{"value": 500.0, "n": 10}]
    exact = [{"sum_value": 500.0}]
    assert gate.check_index(exact, ref, "index_exact", 500.0).failures == []
    assert gate.check_index([{"sum_value": 501.0}], ref, "index_exact", 500.0).failures
    cover = [{"sum_value": 510.0, "ci_lower": 490.0, "ci_upper": 530.0, "n_samples": 4}]
    v = gate.check_index(cover, ref, "index_cover", None)
    assert v.failures == [] and v.estimates[0].covered
    near_miss = [{"sum_value": 560.0, "ci_lower": 540.0, "ci_upper": 580.0, "n_samples": 4}]
    v = gate.check_index(near_miss, ref, "index_cover", None)
    assert v.failures == [] and not v.estimates[0].covered  # counted, not failed
    wrong = [{"sum_value": 700.0, "ci_lower": 680.0, "ci_upper": 720.0, "n_samples": 4}]
    assert gate.check_index(wrong, ref, "index_route", None).failures
    seek = [{"sum_value": 510.0, "ci_lower": 490.0, "ci_upper": 530.0, "path": "seek"}]
    assert gate.check_index(seek, ref, "index_route", None).failures  # seek must be exact


def test_entry_answers_are_compared_by_check_entry(tmp_path, monkeypatch):
    import duckdb
    from pyspark.sql import Row

    from tools.check_entry import check_query

    monkeypatch.setattr(run, "CACHE", str(tmp_path))
    oracles = run._OracleCache(duckdb.connect())
    rec = {"columns": ["a", "b"], "dtypes": [("a", "bigint"), ("b", "double")],
           "rows": [Row(a=2, b=0.5), Row(a=1, b=0.25)]}

    def check(oracle):
        return check_query(None, oracles, "e", lambda *_: run._Collected(rec), oracle)[0]

    assert check("SELECT * FROM (VALUES (1::BIGINT, 0.25), (2, 0.5)) t(b_, a_)"
                 ).startswith("columns")
    good = "SELECT * FROM (VALUES (0.25::DOUBLE, 1::BIGINT), (0.5, 2)) t(b, a)"
    assert check(good) is None
    assert check(good) is None  # the second time from the oracle cache
    assert len(os.listdir(tmp_path / "oracle")) == 2  # one file per oracle text
    assert "dtype mismatch" in check(
        "SELECT * FROM (VALUES (1.0::DOUBLE, 0.25::DOUBLE), (2.0, 0.5)) t(a, b)")
    assert "!=" in check("SELECT * FROM (VALUES (1::BIGINT, 0.25::DOUBLE), (2, 0.5000001)) t(a, b)")


# -- statistics and tracing helpers ------------------------------------------


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct, beyond = run.tail(xs)
    assert (value, pct, beyond) == (90, 90.0, 10)
    assert sum(x > value for x in xs) == 10
    # Twenty samples: the "tail" would be the median, so it is not measured.
    assert run.tail([float(x) for x in range(20)]) == (None, None, 0)
    assert run.tail(list(range(22)))[1] > 50.0


def test_self_time_subtracts_the_union_of_children():
    s = trace.Spans()
    root = s.add("op", "o", 0.0, 10.0)
    s.add("engine.run", "o", 1.0, 4.0, root)
    s.add("result.collect", "o", 3.0, 6.0, root)
    assert s.self_time(root) == pytest.approx(5.0)
    assert trace.union_length([(0, 1), (0.5, 2), (5, 6)]) == pytest.approx(3.0)


def test_py4j_counter_skips_gc_detach_commands(monkeypatch):
    from py4j.java_gateway import GatewayClient

    monkeypatch.setattr(GatewayClient, "send_command", lambda self, cmd, *a, **k: "ok")
    c = trace.Py4jCounter()
    try:
        client = object.__new__(GatewayClient)
        c.active = True
        client.send_command("c\no1\nmethod\ne\n")
        client.send_command(trace.GC_COMMAND_PREFIX + "o1\ne\n")
        assert (c.take(), c.gc_skipped) == (1, 1)
    finally:
        c.close()


# -- seeded inputs and the contract ------------------------------------------


def test_same_seed_same_ops_and_rounds_share_a_composition():
    a = workloads.interactive_round(7, 0)
    b = workloads.interactive_round(7, 0)
    assert [(o.id, o.call) for o in a] == [(o.id, o.call) for o in b]
    c = workloads.interactive_round(8, 0)
    assert sorted(o.id for o in a) == sorted(o.id for o in c)
    assert [o.call for o in a] != [o.call for o in c]
    p = workloads.index_pipeline_round(7, 0, "/b")
    assert sorted(o.id for o in p) == sorted(o.id for o in workloads.index_pipeline_round(8, 0, "/b"))


def test_every_sampled_op_has_an_exact_twin():
    for ops in (workloads.interactive_round(3, 0), workloads.index_pipeline_round(3, 0, "/b")):
        ids = {o.id for o in ops}
        for o in ops:
            if o.check in ("approx", "within") or o.kind == "probe":
                assert o.twin in ids and o.ref_sql


def test_benchmark_json_matches_the_metrics_run_reports():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json not in this tree")
    with open(path) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_work_cpu_leaves_out_jit_compiler_threads():
    tck = os.sysconf("SC_CLK_TCK")
    a, b = object.__new__(run.WorkCpu), object.__new__(run.WorkCpu)
    a.ticks, a.jit = 100, {(1, "5"): 10, (1, "6"): 20}
    # thread 5 compiled 50 ticks more, thread 7 started, thread 6 exited
    b.ticks, b.jit = 400, {(1, "5"): 60, (1, "7"): 40}
    assert b.since(a) == pytest.approx((300 - 50 - 40) / tck)
    now = run.WorkCpu()
    sum(i * i for i in range(200_000))
    assert run.WorkCpu().since(now) >= 0.0


def test_steal_frac_reads_the_eighth_cpu_field():
    before = [100, 0, 10, 500, 0, 0, 0, 40, 0, 0]
    after = [160, 0, 20, 530, 0, 0, 0, 140, 0, 0]
    assert run.steal_frac(before, after) == pytest.approx(100 / 200)
    assert run.steal_frac(before, before) is None


def test_defective_designs_are_out_of_the_measured_round_unless_asked_for():
    sent = {o.tags.get("design") for o in workloads.interactive_round(5, 0)}
    assert not sent & set(workloads.DEFECTIVE_DESIGNS)
    every = workloads.DESIGNS + workloads.DEFECTIVE_DESIGNS
    sent = {o.tags.get("design") for o in workloads.interactive_round(5, 0, every)}
    assert set(workloads.DEFECTIVE_DESIGNS) <= sent
