"""Unit tests of the benchmark's own code that need no Spark session."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb
import pytest

import gendata
import procstat
import run
import tracing
import verify
from tracing import JobStats, Span
from workloads import WORKLOADS, query_order

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


# -- percentiles ------------------------------------------------------------

def _rec(total, ok=True):
    if not ok:
        return {"name": "q", "error": "boom"}
    return {"name": "q", "build_s": total / 2, "plan_s": 0.0,
            "exec_s": total / 2}


def test_median_latency_odd_even_and_failures():
    assert run.median_latency([_rec(3.0), _rec(1.0), _rec(2.0)]) == 2.0
    assert run.median_latency([_rec(4.0), _rec(1.0), _rec(2.0),
                               _rec(3.0)]) == 2.5
    # a failed query has no latency and does not shift the median
    assert run.median_latency([_rec(1.0), _rec(9.0, ok=False),
                               _rec(3.0)]) == 2.0
    assert run.median_latency([_rec(0, ok=False)]) == 0.0


# -- spans and self time ----------------------------------------------------

def _span(name, layer, start, end, parent):
    return Span(name, layer, start, end, parent, "q")


def test_self_time_of_nested_module_spans():
    spans = [
        _span("registry:q", "registry", 0.0, 10.0, -1),
        _span("g", "operators.graph", 1.0, 5.0, 0),
        _span("u", "operators.util", 2.0, 3.0, 1),    # inside graph
        _span("u", "operators.util", 3.5, 4.0, 1),
        _span("l", "sources.load_table", 6.0, 7.0, 0),
    ]
    got = tracing.self_times(spans)
    assert got == pytest.approx([10 - 4 - 1, 4 - 1.5, 1.0, 0.5, 1.0])
    m = tracing.layer_metrics(spans, ["registry", "operators.graph",
                                      "operators.util", "sources.load_table"])
    assert m["operators.graph.s"] == pytest.approx(2.5)
    assert m["operators.util.s"] == pytest.approx(1.5)
    assert m["operators.util.calls"] == 2
    assert m["registry.s"] == pytest.approx(5.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("p", "a", 0.0, 10.0, -1),
        _span("c1", "b", 1.0, 4.0, 0),
        _span("c2", "b", 3.0, 6.0, 0),   # overlaps c1 (another thread)
        _span("c3", "b", 9.0, 12.0, 0),  # runs past its parent's end
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(10 - 5 - 1)


def test_same_layer_nested_calls_are_one_entry():
    spans = [
        _span("registry:q", "registry", 0.0, 5.0, -1),
        _span("f", "operators.dedup", 1.0, 4.0, 0),
        _span("g", "operators.dedup", 2.0, 3.0, 1),
    ]
    m = tracing.layer_metrics(spans, ["operators.dedup"])
    assert m["operators.dedup.calls"] == 1
    assert m["operators.dedup.s"] == pytest.approx(3.0)


def test_tracer_parents_other_threads_to_the_main_span():
    import threading

    t = tracing.Tracer()
    outer = t.begin("registry:q", "registry")
    box = []
    th = threading.Thread(target=lambda: box.append(t.begin("cb", "x")))
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    t.end(box[0])
    t.end(outer)
    assert t.spans[box[0]].parent == outer
    assert t.spans[outer].end >= t.spans[outer].start


# -- phase attribution of job deltas ----------------------------------------

def test_jobs_attributed_to_phases_by_id_range():
    bounds = [("build", 0, 3), ("exec", 3, 5), ("build", 5, 6),
              ("exec", 6, 8)]
    jobs = [JobStats(7, [9]), JobStats(0, [0, 1]), JobStats(1, [1, 2]),
            JobStats(2, [3]), JobStats(3, [4]), JobStats(4, [4, 5]),
            JobStats(5, [6]), JobStats(6, [7, 8])]
    got = tracing.attribute_jobs(jobs, bounds)
    assert got["build"][0] == 4                       # jobs 0, 1, 2, 5
    assert sorted(got["build"][1]) == [0, 1, 2, 3, 6]  # stage 1 once
    assert got["exec"][0] == 4                        # jobs 3, 4, 6, 7
    assert sorted(got["exec"][1]) == [4, 5, 7, 8, 9]   # stage 4 once


def test_jobs_outside_every_phase_are_ignored():
    got = tracing.attribute_jobs([JobStats(0, [0]), JobStats(9, [1])],
                                 [("build", 1, 5), ("exec", 5, 9)])
    assert got == {"build": (0, []), "exec": (0, [])}


def test_count_exchanges_in_a_plan_string():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
      +- HashAggregate(keys=[k#1], functions=[partial_sum(v#2)])
         +- BroadcastHashJoin [a#3], [b#4], Inner, BuildRight, false
            :- FileScan parquet [a#3]
            +- BroadcastExchange HashedRelationBroadcastMode(List(b#4)), [plan_id=9]
               +- *(1) Filter isnotnull(b#4)
                  +- ReusedExchange [b#4], Exchange hashpartitioning(b#4, 4)
"""
    assert tracing.count_exchanges(plan) == 2


# -- /proc readers ----------------------------------------------------------

def test_parse_stat_with_spaces_and_parens_in_the_name():
    fields = ["S", "77"] + ["0"] * 9 + ["150", "50", "20", "30"] + \
        ["0"] * 6 + ["1000"] + ["0"] * 20
    text = "4242 (java (x) y) " + " ".join(fields)
    ppid, cpu, rss = procstat.parse_stat(text)
    assert ppid == 77
    assert cpu == pytest.approx(250 / os.sysconf("SC_CLK_TCK"))
    assert rss == 1000 * os.sysconf("SC_PAGE_SIZE")


def _fake_proc(root, pid, ppid, ticks, rss_pages):
    d = root / str(pid)
    d.mkdir()
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), "0", "0", "0"] + \
        ["0"] * 6 + [str(rss_pages)] + ["0"] * 20
    (d / "stat").write_text(f"{pid} (p{pid}) " + " ".join(fields))


def test_tree_stats_cover_only_the_tree(tmp_path):
    tick, page = os.sysconf("SC_CLK_TCK"), os.sysconf("SC_PAGE_SIZE")
    _fake_proc(tmp_path, 10, 1, tick, 1)
    _fake_proc(tmp_path, 11, 10, 2 * tick, 2)
    _fake_proc(tmp_path, 12, 11, 3 * tick, 5)
    _fake_proc(tmp_path, 20, 1, 100 * tick, 100)    # not in the tree
    (tmp_path / "self").mkdir()
    cpu, rss = procstat.tree_stats(10, proc=str(tmp_path))
    assert cpu == pytest.approx(6.0)
    assert rss == {10: page, 11: 2 * page, 12: 5 * page}
    assert sorted(procstat.descendants(10, proc=str(tmp_path))) == [11, 12]


def test_sampler_skips_a_process_seen_once(tmp_path):
    page = os.sysconf("SC_PAGE_SIZE")
    _fake_proc(tmp_path, 10, 1, 0, 100)
    _fake_proc(tmp_path, 11, 10, 0, 20)
    s = procstat.TreeSampler(root=10, proc=str(tmp_path))
    s._sample()
    assert s.peak_rss == 0                 # nothing seen twice yet
    _fake_proc(tmp_path, 12, 10, 0, 100)   # mid-spawn copy of its parent
    s._sample()
    assert s.peak_rss == 120 * page
    (tmp_path / "12" / "stat").unlink()
    (tmp_path / "12").rmdir()
    s._sample()
    assert s.peak_rss == 120 * page


def test_sampler_sees_a_child_burn_cpu_and_wait_ended_reaps_it():
    s = procstat.TreeSampler(interval_s=0.05)
    s.start()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.time()\n"
                              "while time.time()-t<0.6: pass"])
    child.wait(timeout=30)
    s.stop()
    assert s.cpu_s >= 0.3
    assert s.peak_rss > 0
    sleeper = subprocess.Popen([sys.executable, "-c",
                                "import time; time.sleep(60)"])
    t0 = time.monotonic()
    procstat.wait_ended([sleeper.pid], timeout_s=0.2)
    sleeper.wait(timeout=10)
    assert sleeper.returncode is not None
    assert time.monotonic() - t0 < 30


# -- verification -----------------------------------------------------------

def test_digest_ignores_row_and_column_order_only():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, -0.0, None]})
    b = a.iloc[::-1][["v", "k"]].reset_index(drop=True)
    assert verify.frame_digest(a) == verify.frame_digest(b)
    c = a.copy()
    c.loc[1, "v"] = 0.5000000000000001
    assert verify.frame_digest(a) != verify.frame_digest(c)


def test_planted_one_row_perturbation_fails_verification(small_data):
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in gendata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{small_data}/{t}.parquet'")
    good = con.execute(oracles["pricing_summary"]).fetchdf()
    con.close()
    bad = good.copy()
    col = next(c for c in bad.columns if bad[c].dtype.kind == "f")
    bad.loc[0, col] = bad.loc[0, col] + 0.01

    by_oracle = verify.Verifier(small_data, oracles, {})
    by_digest = verify.Verifier(small_data, {}, {
        "pricing_summary": verify.frame_digest(good)})
    try:
        for v in (by_oracle, by_digest):
            assert v.check("pricing_summary", good) == []
            assert v.check("pricing_summary", bad) != []
            assert v.check("pricing_summary", good.iloc[1:]) != []
        assert by_oracle.check("no_such_query", good) != []
    finally:
        by_oracle.close()
        by_digest.close()


# -- workloads and the declared metrics -------------------------------------

def test_query_order_is_a_seeded_permutation():
    for name, w in WORKLOADS.items():
        a, b = query_order(name, 7), query_order(name, 7)
        assert a == b and sorted(a) == sorted(w.queries)
    orders = {tuple(query_order("relational", s)) for s in range(10)}
    assert len(orders) > 1


def test_workload_queries_are_registered_and_verifiable():
    import __spark_entry__ as entry

    registry, oracles = entry.queries(), entry.oracle_sql()
    digests = verify.load_digests()
    for w in WORKLOADS.values():
        for q in w.queries:
            assert q in registry
            assert q in oracles or q in digests, q
    assert set(digests) <= {q for w in WORKLOADS.values() for q in w.queries}


def test_benchmark_json_declares_what_a_run_reports():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units()
    assert spec["paths"] == ["perfbench"]


def test_generator_is_deterministic():
    a = gendata.build_tables(sf=0.001, seed=42)
    b = gendata.build_tables(sf=0.001, seed=42)
    assert all(a[t].equals(b[t]) for t in gendata.TABLES)
    assert not a["lineitem"].equals(gendata.build_tables(sf=0.001, seed=1)["lineitem"])
