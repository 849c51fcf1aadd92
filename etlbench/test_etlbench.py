"""Tests of the benchmark itself (run from the repository root):

    python -m pytest etlbench -q

Generators are deterministic per seed; the metric lists agree with
BENCHMARK.json; shuffle bytes count a stage once however many jobs list
it; and on a tiny two-round run the listen-ETL check and the DuckDB
replay of the commit loop both pass (and fail when the replay is off);
and the analytics notebook queries match their oracle on a seed with a
half-cent total.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402

TINY_TABLES = gen.TableScale(customers=20, suppliers=5, parts=30, orders=60,
                             lineitems=200, documents=40, embeddings=20, dim=8)
TINY_LISTENS = gen.ListenScale(arrivals=2, listens_per_arrival=300,
                               files_per_arrival=2, users=5)
TINY_COMMITS = gen.CommitScale(rounds=2, seed_rows=30, batch_min=3,
                               batch_max=8, groups=4)


def _tables(seed, tmp):
    out = os.path.join(tmp, f"t{seed}-{len(os.listdir(tmp))}")
    props = gen.write_tables(np.random.default_rng(seed), out, TINY_TABLES)
    return props, {f: pq.read_table(os.path.join(out, f)) for f in sorted(os.listdir(out))}


def test_generators_are_deterministic_per_seed(tmp_path):
    p1, t1 = _tables(7, str(tmp_path))
    p2, t2 = _tables(7, str(tmp_path))
    _, t3 = _tables(8, str(tmp_path))
    assert p1 == p2
    assert all(t1[f].equals(t2[f]) for f in t1)
    assert not t1["lineitem.parquet"].equals(t3["lineitem.parquet"])

    def listens(seed):
        return gen.listen_arrivals(np.random.default_rng(seed), TINY_LISTENS)

    assert listens(3) == listens(3) != listens(4)

    def ops(seed):
        return gen.commit_ops(np.random.default_rng(seed), TINY_COMMITS)

    assert ops(3) == ops(3) != ops(4)


def test_listen_duplicates_and_op_mix():
    arrivals = gen.listen_arrivals(np.random.default_rng(1), TINY_LISTENS)
    rows = [json.loads(line) for f in arrivals[0] for line in f.splitlines()]
    keys = {(r["user_name"], r["listened_at"]) for r in rows}
    assert len(rows) == 300 and len(keys) < len(rows)
    _, ops = gen.commit_ops(np.random.default_rng(1), TINY_COMMITS)
    assert sorted(o.verb for o in ops) == sorted(2 * (gen.COMMIT_VERBS + ("read", "drain")))
    merge = next(o for o in ops if o.verb == "merge")
    assert len({r[0] for r in merge.rows}) == len(merge.rows)


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
    import run
    from workloads import OpRecord
    recs = [OpRecord("0:a", "k", "a", 9.0, True, 0), OpRecord("1:b", "k", "b", 5.0, True, 0),
            OpRecord("2:a", "k", "a", 1.0, True, 1), OpRecord("3:b", "k", "b", 4.0, True, 1),
            OpRecord("4:a", "k", "a", 1.0, True, 2), OpRecord("5:b", "k", "b", 4.0, True, 2)]
    e2e = run.e2e_metrics(recs, 3.0)
    assert e2e["setup_s"]["value"] == pytest.approx(17.0)  # start + warm-up round
    assert e2e["op_gmean_s"]["value"] == pytest.approx(2.0)
    assert e2e["work_s"]["value"] == pytest.approx(5.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()}
    from workloads import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_span_self_time_and_plan_counts():
    t = spans.Tracer(True)
    t.spans = [spans.Span(0, "op", "acid", 0.0, 10.0, None, "a", {}),
               spans.Span(1, "job", "spark.job", 2.0, 5.0, 0, "a", {}),
               spans.Span(2, "job", "spark.job", 4.0, 6.0, 0, "a", {})]
    assert t.self_time() == {"acid": 6.0, "spark.job": 5.0}
    plan = ("AdaptiveSparkPlan isFinalPlan=true\n+- == Final Plan ==\n"
            "   *(2) HashAggregate(keys=[k#1])\n"
            "   +- ShuffleQueryStage 0\n"
            "      +- Exchange hashpartitioning(k#1, 4)\n"
            "         +- ArrowEvalPython [f(x#2)]\n"
            "            +- FileScan parquet [k#1]\n"
            "+- == Initial Plan ==\n   Exchange hashpartitioning(k#1, 4)\n")
    assert spans.plan_node_counts(plan) == {
        "scan_nodes": 1, "exchange_nodes": 1, "python_nodes": 1}


def test_shuffle_bytes_count_a_shared_stage_once():
    # the second job lists stage 1, which the first job ran
    jobs = [{"stage_bytes": {1: 100}}, {"stage_bytes": {1: 100, 2: 7}}]
    assert spans.shuffle_bytes(jobs) == 107
    assert spans.shuffle_bytes(jobs[1:]) == 107
    assert spans.shuffle_bytes([]) == 0


def test_rows_equal_reports_mismatch():
    assert checks.rows_equal("q", ("a", "b"), [(1, 2.0)], ("b", "a"), [(2.0, 1)]) == []
    assert checks.rows_equal("q", ("a",), [(1,)], ("a",), [(2,)])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from scalable_etl_spark.session import get_spark

    s = get_spark(app_name="etlbench-test", master="local[2]")
    yield s
    s.stop()


def test_tiny_etl_commits_run_passes_its_checks(spark, tmp_path):
    from workloads import EtlCommits

    # traced, so each drain's delivered rows are read back
    wl = EtlCommits(str(tmp_path), 5, 15, spans.Tracer(True))
    rng = np.random.default_rng(5)
    wl.arrivals = gen.listen_arrivals(rng, TINY_LISTENS)
    wl.init_rows, wl.ops = gen.commit_ops(rng, TINY_COMMITS)
    wl.run(spark)
    assert [r.error for r in wl.records if not r.ok] == []
    assert wl.check(spark) == []
    drains = [r for r in wl.records if r.name == "drain"]
    assert len(drains) == 2 and all(r.attrs["rows"] > 0 for r in drains)
    assert len(wl.delivered) == sum(r.attrs["rows"] for r in drains)

    # the replay is an independent model: one extra op breaks the match
    extra = next(o for o in wl.ops if o.verb == "update")
    wl.replay.apply(extra, 99)
    assert checks.check_commit_loop(wl.table, wl.replay, wl.delivered)


def test_notebook_queries_match_their_oracle_on_a_half_cent_seed(spark, tmp_path):
    # seed 82 has a group whose exact discounted-price total ends in a
    # half cent, where a query rounding a double sum to cents disagrees
    # with DuckDB; the analytics workload's notebook queries must not
    import __spark_entry__  # noqa: F401  (registers every query)
    from scalable_etl_spark.registry import QUERIES
    from workloads import NOTEBOOK_QUERIES

    tables = str(tmp_path / "tables")
    gen.write_tables(np.random.default_rng(82), tables)
    con = checks.oracle_connection(tables)
    for name in NOTEBOOK_QUERIES:
        assert checks.check_query(con.cursor(), name, QUERIES[name](spark, tables)) == []
    con.close()
