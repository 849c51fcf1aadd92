"""Per-layer metrics of a traced run.

``PER_LAYER`` is the metric list (name, unit) every traced run prints,
on both workloads; a layer a workload bypasses reads 0 there. Only the
measured rounds count (round 0 is the warm-up), except for the
``session`` layer, which is the set-up, and for the counts read from
disk after the run (files, bytes, live files). Times of repeated verbs
(``acid.<verb>_s``, read, drain) are medians per call; times, counts and
bytes of the query and ETL layers are per measured round, so they add
up to the end-to-end ``work_s`` they move.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

import spans

LAYERS = ("session", "queries", "operators.dedup", "operators.similarity",
          "operators.multimodal", "functions.text", "streaming.ingest",
          "medallion", "acid", "streaming.cdf")
MODULE_LAYERS = ("operators.dedup", "operators.similarity",
                 "operators.multimodal", "functions.text")
VERBS = ("append", "merge", "delete_in", "update", "maybe_compact")

PER_LAYER: list[tuple[str, str]] = [
    ("session.import_s", "s"), ("session.start_s", "s"), ("session.peak_rss_mb", "MB"),
    ("queries.build_s", "s"), ("queries.exec_s", "s"), ("queries.driver_only_s", "s"),
    ("queries.tasks", "count"), ("queries.shuffle_bytes", "bytes"),
    ("queries.scan_nodes", "count"), ("queries.exchange_nodes", "count"),
    ("queries.python_nodes", "count"),
]
for _m in MODULE_LAYERS:
    PER_LAYER += [(f"{_m}.exec_s", "s"), (f"{_m}.python_nodes", "count"),
                  (f"{_m}.shuffle_bytes", "bytes")]
PER_LAYER += [("operators.dedup.candidate_yield", "ratio")]
PER_LAYER += [
    ("streaming.ingest.ingest_s", "s"), ("streaming.ingest.files_read", "count"),
    ("streaming.ingest.files_written", "count"),
    ("streaming.ingest.checkpoint_bytes", "bytes"),
    ("medallion.silver_s", "s"), ("medallion.gold_s", "s"),
    ("medallion.dup_drop_ratio", "ratio"), ("medallion.files_written", "count"),
    ("medallion.bytes_written", "bytes"), ("medallion.shuffle_bytes", "bytes"),
]
PER_LAYER += [(f"acid.{v}_s", "s") for v in VERBS]
PER_LAYER += [
    ("acid.read_build_s", "s"), ("acid.read_exec_s", "s"),
    ("acid.jobs_per_commit", "count"), ("acid.live_files", "count"),
    ("acid.log_bytes", "bytes"), ("acid.write_amp", "ratio"),
    ("acid.commit_conflicts", "count"),
    ("streaming.cdf.drain_s", "s"), ("streaming.cdf.rows_delivered", "count"),
    ("streaming.cdf.versions_per_drain", "count"),
]
for _l in LAYERS:
    PER_LAYER += [(f"{_l}.self_s", "s"), (f"{_l}.py4j_calls", "count"),
                  (f"{_l}.jobs", "count")]
PER_LAYER += [("trace.spans", "count"), ("trace.setup_s", "s"),
              ("trace.op_gmean_s", "s"), ("trace.work_s", "s")]
UNITS = dict(PER_LAYER)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(wl, spark, tracer, records, e2e: dict, session: dict) -> dict:
    """Metrics of the traced schedule ``records``. ``e2e`` holds the
    traced run's own end-to-end figures, reported as ``trace.*``: the
    tracing overhead is they minus those of an untraced run of the same
    seed."""
    jobs = spans.read_jobs(spark)
    plans = spans.read_sql_plans(spark)
    tracer.attach_jobs(jobs)
    m: dict[str, float] = dict.fromkeys(UNITS, 0)
    for k, v in session.items():
        m[f"session.{k}"] = v
    measured = [r for r in records if r.round > 0]
    n = max(1, max((r.round for r in records), default=0))
    setup_ops = {s.op for s in tracer.spans if s.layer == "session" and s.op}
    counted = {r.op_id for r in measured} | setup_ops

    group_of = {j["job_id"]: j["group"] for j in jobs}
    op_jobs = defaultdict(list)
    for j in jobs:
        op_jobs[j["group"]].append(j)
    op_nodes: dict[str, Counter] = defaultdict(Counter)
    for p in plans.values():
        groups = [group_of.get(j) for j in p["job_ids"] if group_of.get(j)]
        if groups:
            op_nodes[groups[0]].update(
                {k: p[k] for k in ("scan_nodes", "exchange_nodes", "python_nodes")})
    top = {s.op: s for s in tracer.spans if s.parent is None and s.op}
    op_layers = defaultdict(set)
    for s in tracer.spans:
        if s.layer in MODULE_LAYERS and s.op:
            op_layers[s.op].add(s.layer)

    def shuffle(op_id):
        return spans.shuffle_bytes(op_jobs[op_id])

    # per-layer job counts: jobs under each top-level op span's layer,
    # module layers through the ops that built on them
    for op_id in counted:
        js = op_jobs.get(op_id, [])
        per = 1 if op_id in setup_ops else n
        span = top.get(op_id)
        if span is not None:
            m[f"{span.layer}.jobs"] += len(js) / per
        for layer in op_layers.get(op_id, ()):
            m[f"{layer}.jobs"] += len(js) / per

    for r in measured:
        js = op_jobs[r.op_id]
        if r.kind in ("notebook", "curation"):
            span = top[r.op_id]
            busy = spans.union_length(
                [(max(j["start"], span.start), min(j["end"], span.end)) for j in js])
            m["queries.build_s"] += r.build_s / n
            m["queries.exec_s"] += (r.seconds - r.build_s) / n
            m["queries.driver_only_s"] += (r.seconds - busy) / n
            m["queries.tasks"] += sum(j["tasks"] for j in js) / n
            m["queries.shuffle_bytes"] += shuffle(r.op_id) / n
            for k in ("scan_nodes", "exchange_nodes", "python_nodes"):
                m[f"queries.{k}"] += op_nodes[r.op_id][k] / n
            for layer in op_layers.get(r.op_id, ()):
                m[f"{layer}.exec_s"] += (r.seconds - r.build_s) / n
                m[f"{layer}.python_nodes"] += op_nodes[r.op_id]["python_nodes"] / n
                m[f"{layer}.shuffle_bytes"] += shuffle(r.op_id) / n
        elif r.kind == "ingest":
            m["streaming.ingest.ingest_s"] += r.seconds / n
        elif r.kind in ("silver", "gold"):
            m[f"medallion.{r.kind}_s"] += r.seconds / n
            m["medallion.shuffle_bytes"] += shuffle(r.op_id) / n

    commits = [r for r in measured if r.kind == "commit"]
    for v in VERBS:
        m[f"acid.{v}_s"] = _median(r.seconds for r in commits if r.name == v)
    reads = [r for r in measured if r.kind == "read"]
    m["acid.read_build_s"] = _median(r.build_s for r in reads)
    m["acid.read_exec_s"] = _median(r.seconds - r.build_s for r in reads)
    if commits:
        m["acid.jobs_per_commit"] = (
            sum(len(op_jobs[r.op_id]) for r in commits) / len(commits))
    drains = [r for r in measured if r.kind == "drain"]
    m["streaming.cdf.drain_s"] = _median(r.seconds for r in drains)
    if drains:
        m["streaming.cdf.rows_delivered"] = (
            sum(r.attrs.get("rows", 0) for r in drains) / len(drains))
        m["streaming.cdf.versions_per_drain"] = (
            sum(r.attrs.get("versions", 0) for r in drains) / len(drains))

    if wl.name == "etl_commits":
        m.update(wl.layer_facts(spark))
    else:
        y = wl.candidate_yield(spark)
        m["operators.dedup.candidate_yield"] = (
            y["verified_pairs"] / y["candidate_pairs"] if y["candidate_pairs"] else 0.0)

    for layer, t in tracer.self_time(counted).items():
        if f"{layer}.self_s" in m:
            m[f"{layer}.self_s"] = t if layer == "session" else t / n
    for (layer, op), calls in tracer.py4j_calls.items():
        if f"{layer}.py4j_calls" in m and op in counted:
            m[f"{layer}.py4j_calls"] += calls if op in setup_ops else calls / n

    m["trace.spans"] = len(tracer.spans)
    for k in ("setup_s", "op_gmean_s", "work_s"):
        m[f"trace.{k}"] = e2e[k]["value"]
    return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items() if k in UNITS}
