"""Benchmark for scalable_etl_spark: two closed-loop workloads over
seeded inputs, end-to-end metrics from untraced runs and per-layer
metrics from a traced run.

    python3 etlbench/run.py --workload analytics --seed 1 --seconds 17 --trace 0

Run from the repository root. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the workload's own figures (query / commit / freshness
percentiles, error rate, input properties, cores, load average).
``--trace 1`` reports the per-layer metrics instead and writes the span
file under ``.etlbench-out/``. The exit code is non-zero when any op
failed or any output disagrees with its DuckDB oracle.

Each run: generate inputs from the seed; start the JVM and a session on
``local[k]``, k = min(3, cores - 1), through ``session.get_spark``; run the
warm-up round and then the measured rounds of the schedule; check the
outputs outside the timed region; stop the JVM and wait for it.
``setup_s`` is the session start plus the warm-up round. A run sets up
once: a set-up costs 25-35 s on 4 cores, and a second one per run does
not fit the run length.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark task threads: one fewer than the host's cores, so that the
# driver's Python process and the Python workers do not queue behind
# them, and at most 3, so runs on larger hosts stay comparable
MAX_CORES = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "etl_commits"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=17)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Everything Spark and its Python workers write stays under
    ``work``; workers import the package from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # no hsperfdata file in the system temp dir either
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CPUS": str(cores),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path[:0] = [HERE, ROOT]


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def start_session(cores: int, tracer):
    """Start the JVM and a session; return it and the time taken."""
    from scalable_etl_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("get_spark", "session", op="setup"):
        spark = get_spark(app_name="etlbench", master=f"local[{cores}]")
    return spark, time.perf_counter() - t0


def op_medians(records) -> dict[str, float]:
    """Each op's median latency over the measured rounds (round > 0)."""
    by_op = defaultdict(list)
    for r in records:
        if r.round > 0:
            by_op[r.name].append(r.seconds)
    return {name: statistics.median(v) for name, v in by_op.items()}


def e2e_metrics(records, start_s: float) -> dict:
    """``setup_s`` is the session start plus the warm-up round (round 0),
    which pays every op's first-use cost. ``op_gmean_s`` is the geometric
    mean over ops of each op's median latency, floored at 1 ms: with ~10
    ops of different kinds per round, a median over ops jumps between
    kinds, while the geometric mean moves by the same share for a given
    relative change of any one op. ``work_s`` is the sum of the op
    medians, the length of a typical measured round."""
    warmup_s = sum(r.seconds for r in records if r.round == 0)
    meds = op_medians(records)
    logs = [math.log(max(v, 1e-3)) for v in meds.values()]
    return {
        "setup_s": {"value": start_s + warmup_s, "unit": "s"},
        "op_gmean_s": {"value": math.exp(sum(logs) / len(logs)), "unit": "s"},
        "work_s": {"value": sum(meds.values()), "unit": "s"},
    }


def workload_figures(wl, records, errors) -> dict:
    """The figures particular to one workload, with sample counts.
    ``error_rate`` counts failed ops and mismatched outputs (one each)."""
    measured = [r for r in records if r.round > 0]
    n_rounds = max(1, max(r.round for r in records))

    def p(kind_set, q):
        v = [r.seconds for r in measured if r.kind in kind_set]
        return {"value": pct(v, q), "unit": "s", "n": len(v)}

    def per_round(kind_set):
        return sum(r.seconds for r in measured if r.kind in kind_set) / n_rounds

    out = {"error_rate": min(1.0, len(errors) / max(1, len(records))),
           "warmup_s": sum(r.seconds for r in records if r.round == 0)}
    if wl.name == "analytics":
        out.update(
            query_p50_s=p({"notebook", "curation"}, 50),
            query_p90_s=p({"notebook", "curation"}, 90),
            notebook_pass_s=per_round({"notebook"}),
            curation_pass_s=per_round({"curation"}),
        )
    else:
        etl_s = per_round({"ingest", "silver", "gold"})
        out.update(
            etl_rows_per_s=wl.props["listens_per_arrival"] / etl_s if etl_s else 0.0,
            gold_freshness_p50_s=statistics.median(wl.freshness[1:]),
            commit_p50_s=p({"commit"}, 50),
            commit_p90_s=p({"commit"}, 90),
            read_p50_s=p({"read"}, 50),
            changes_p50_s=p({"drain"}, 50),
        )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "scalable_etl_spark", "session.py")) \
            or not os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py")):
        print(f"etlbench: no scalable_etl_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    cores = max(1, min(MAX_CORES, (os.cpu_count() or 1) - 1))
    loadavg = os.getloadavg()[0]
    work = os.path.join(ROOT, ".etlbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores)
    try:
        return run(args, work, cores, loadavg)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def run(args, work: str, cores: int, loadavg: float) -> int:
    t0 = t_run = time.perf_counter()
    import __spark_entry__  # noqa: F401  (registers every query)
    import layers
    from spans import Tracer
    from workloads import WORKLOADS
    import_s = time.perf_counter() - t0

    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, tracer)
    phases = {"import_s": import_s, "inputs_s": time.perf_counter() - t0}
    patch = tracer.patch_py4j() if args.trace else contextlib.nullcontext()
    with patch:
        spark, start_s = start_session(cores, tracer)
        phases["start_s"] = start_s
        try:
            t0 = time.perf_counter()
            wl.run(spark)
            phases["schedule_s"] = time.perf_counter() - t0
            tracer.enabled = False
            records = wl.records
            errors = [f"{r.op_id}: {r.error}" for r in records if not r.ok]
            t0 = time.perf_counter()
            errors += wl.check(spark)
            phases["check_s"] = time.perf_counter() - t0
            rss_mb = jvm_peak_rss_mb() + resource.getrusage(
                resource.RUSAGE_SELF).ru_maxrss / 1024.0
            metrics = e2e_metrics(records, start_s)
            if args.trace:
                metrics = layers.per_layer(
                    wl, spark, tracer, records, metrics,
                    session={"import_s": import_s, "start_s": start_s,
                             "peak_rss_mb": rss_mb})
                out_dir = os.path.join(ROOT, ".etlbench-out")
                os.makedirs(out_dir, exist_ok=True)
                tracer.dump(os.path.join(
                    out_dir, f"trace-{wl.name}-seed{args.seed}.json"))
        finally:
            stop_spark(spark)

    phases["wall_s"] = time.perf_counter() - t_run
    figures = workload_figures(wl, records, errors)
    figures.update(workload=wl.name, seed=args.seed, cores=cores,
                   loadavg_1m=loadavg, ops=len(records), inputs=wl.props,
                   op_p50_s=statistics.median(op_medians(records).values()),
                   peak_rss_mb=rss_mb,
                   phases=phases, errors=errors[:20],
                   op_seconds={r.op_id: round(r.seconds, 3) for r in records})
    print(json.dumps({"figures": figures}, default=str))
    failed = sum(not r.ok for r in records)
    print(json.dumps({
        "correct": not errors,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
