"""The two benchmark workloads. Each is a single-client closed loop: one
op at a time, each op waiting for the previous one to return.

``analytics``  registered queries over seeded tables, through the noop
               sink. Layers: ``queries`` (registry), ``operators.dedup``,
               ``operators.similarity``, ``operators.multimodal``,
               ``functions.text``. Bypasses ``acid``, ``medallion``,
               ``streaming.*``.
``etl_commits`` ListenBrainz NDJSON arrivals through exactly-once bronze
               ingest, silver and gold, interleaved with a snapshot-table
               commit loop and change-feed drains. Layers:
               ``streaming.ingest``, ``medallion``, ``acid``,
               ``streaming.cdf``. Bypasses the query registry and the
               curation operators.

A workload object is built once per run with its generated inputs, then
``run`` is the timed schedule on a fresh session, and ``check`` compares
the outputs outside the timed region. The schedule is a fixed sequence
of ops repeated in rounds: round 0 is the warm-up, which pays every
op's first-use cost (JIT, Python worker start, first streaming query)
and counts as set-up; rounds 1.. are measured. The op order within a
round is fixed, so each op is compared with itself across rounds.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import checks
import gen


@dataclass
class OpRecord:
    op_id: str
    kind: str
    name: str
    seconds: float
    ok: bool
    round: int = 0
    build_s: float = 0.0
    error: str = ""
    attrs: dict = field(default_factory=dict)


def noop(df) -> None:
    """Run every column of ``df``'s plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return n, b


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self.round = 0

    def _op(self, spark, kind: str, name: str, fn, layer: str):
        """Time one op from the outside; failures are recorded, never
        dropped."""
        op_id = f"{len(self.records)}:{name}"
        if self.tracer.enabled:
            spark.sparkContext.setJobGroup(op_id, name)
        rec = OpRecord(op_id, kind, name, 0.0, True, self.round)
        t0 = time.perf_counter()
        with self.tracer.span(name, layer, op=op_id):
            try:
                out = fn(rec)
            except Exception as exc:  # an op failure is a result, not a crash
                rec.ok, rec.error, out = False, f"{type(exc).__name__}: {exc}"[:500], None
        rec.seconds = time.perf_counter() - t0
        if self.tracer.enabled:
            spark.sparkContext.setJobGroup("bench", "between ops")
        self.records.append(rec)
        return out


# ------------------------------------------------------------ analytics

# A fixed subset of the registry: every layer the workload names is
# reached, and one pass fits the run length on 4 cores. The notebook
# queries are ones whose oracle agrees with Spark for any seed: integer
# counts and cent sums of cent values. ``pricing_summary`` and
# ``revenue_by_region`` round a double sum of price * (1 - discount) to
# cents; at an exact half-cent total Spark's double sum lands just below
# it (generated seed 82: exact 97996726.055, Spark .05, DuckDB .06), so
# they fail on some seeds.
NOTEBOOK_QUERIES = ("priority_line_counts", "mktsegment_order_priority")
CURATION_QUERIES = ("bpe_token_stats", "near_dedup_corpus", "ann_lsh",
                    "media_pixel_stats")
LAYER_MODULES = {
    "scalable_etl_spark.operators.dedup": "operators.dedup",
    "scalable_etl_spark.operators.similarity": "operators.similarity",
    "scalable_etl_spark.operators.multimodal": "operators.multimodal",
    "scalable_etl_spark.functions.text": "functions.text",
}
# nominal length of one warm pass on a 4-core host (local[3]), for
# sizing runs
ANALYTICS_PASS_S = 6.0


def measured_rounds(seconds: int, round_s: float) -> int:
    """Measured rounds that fill ``seconds``, at least one."""
    return max(1, round(seconds / round_s))


class LayerProfiler:
    """``sys.setprofile`` hook for the traced run: while a query plan is
    built, every entry from outside into one of ``LAYER_MODULES`` opens
    a child span of that layer, so its driver time and py4j calls are
    charged to it."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.open: list = []  # (frame, context manager)

    def __call__(self, frame, event, _arg):
        if event == "call":
            layer = LAYER_MODULES.get(frame.f_globals.get("__name__"))
            if layer and not (self.open and self.open[-1][2] == layer):
                cm = self.tracer.span(frame.f_code.co_name, layer)
                cm.__enter__()
                self.open.append((frame, cm, layer))
        elif event == "return" and self.open and self.open[-1][0] is frame:
            self.open.pop()[1].__exit__(None, None, None)

    def __enter__(self):
        sys.setprofile(self)
        return self

    def __exit__(self, *exc):
        sys.setprofile(None)
        while self.open:
            self.open.pop()[1].__exit__(None, None, None)
        return False


class Analytics(Workload):
    name = "analytics"

    def __init__(self, work, seed, seconds, tracer):
        super().__init__(work, seed, tracer)
        self.tables = os.path.join(work, "tables")
        self.props = gen.write_tables(self.rng, self.tables)
        self.names = NOTEBOOK_QUERIES + CURATION_QUERIES
        self.rounds = 1 + measured_rounds(seconds, ANALYTICS_PASS_S)
        self.props.update(queries=len(self.names), measured_passes=self.rounds - 1)

    def run(self, spark) -> None:
        from scalable_etl_spark.registry import QUERIES

        self.frames = {}
        for self.round in range(self.rounds):
            for name in self.names:
                kind = "notebook" if name in NOTEBOOK_QUERIES else "curation"

                def query(rec, name=name):
                    t0 = time.perf_counter()
                    if self.tracer.enabled:
                        with self.tracer.span("build", "queries"), \
                                LayerProfiler(self.tracer):
                            df = QUERIES[name](spark, self.tables)
                    else:
                        df = QUERIES[name](spark, self.tables)
                    rec.build_s = time.perf_counter() - t0
                    with self.tracer.span("exec", "queries"):
                        noop(df)
                    self.frames[name] = df

                self._op(spark, kind, name, query, "queries")

    def check(self, spark) -> list[str]:
        """Each query's rows against its oracle; three queries at a time
        (outside the timed region, so the overlap costs nothing)."""
        con = checks.oracle_connection(self.tables)

        def one(name):
            try:
                return checks.check_query(con.cursor(), name, self.frames[name])
            except Exception as exc:
                return [f"{name}: {type(exc).__name__}: {exc}"[:500]]

        # a query missing from frames failed its op, already an error
        with ThreadPoolExecutor(max_workers=3) as pool:
            errs = [e for found in pool.map(one, list(self.frames)) for e in found]
        con.close()
        return errs

    def candidate_yield(self, spark) -> dict:
        """Verified pairs / LSH candidate pairs over the generated corpus,
        with ``minhash_lsh_pairs``'s own defaults."""
        from scalable_etl_spark.operators import dedup
        from scalable_etl_spark.tables import load_table

        docs = load_table(spark, self.tables, "documents")
        banded = dedup.minhash_band_table(docs, 16, 4, "text", "doc_id", 3)
        cand = dedup.capped_bucket_pairs(
            banded, ("band", "bucket"), "doc_id", dedup.HOT_BUCKET_CAP
        ).distinct().count()
        verified = dedup.minhash_lsh_pairs(docs).count()
        return {"candidate_pairs": cand, "verified_pairs": verified}


# ------------------------------------------------------------ etl_commits

ETL_ROUND_S = 12.0
# the live-file ceiling of ``maybe_compact``: low enough that each
# round's commits push the table over it, so every call compacts
COMPACT_MAX_FILES = 2


class EtlCommits(Workload):
    name = "etl_commits"

    def __init__(self, work, seed, seconds, tracer):
        super().__init__(work, seed, tracer)
        rounds = 1 + measured_rounds(seconds, ETL_ROUND_S)
        lscale = gen.ListenScale(arrivals=rounds)
        self.arrivals = gen.listen_arrivals(self.rng, lscale)
        self.init_rows, self.ops = gen.commit_ops(
            self.rng, gen.CommitScale(rounds=rounds))
        listens = [json.loads(line) for files in self.arrivals
                   for text in files for line in text.splitlines()]
        keys = {(r["user_name"], r["listened_at"]) for r in listens}
        batch = [len(o.rows) or len(o.ids) for o in self.ops if o.rows or o.ids]
        self.props = {
            "measured_rounds": rounds - 1,
            "listens": len(listens),
            "listens_per_arrival": lscale.listens_per_arrival,
            "files_per_arrival": lscale.files_per_arrival,
            "distinct_users": len({r["user_name"] for r in listens}),
            "user_zipf": lscale.user_zipf,
            "dup_key_share": 1 - len(keys) / len(listens),
            "op_mix": {v: sum(o.verb == v for o in self.ops)
                       for v in sorted({o.verb for o in self.ops})},
            "batch_rows_min": min(batch),
            "batch_rows_max": max(batch),
            "seed_rows": len(self.init_rows),
        }
        self.freshness: list[float] = []
        self.delivered: list[tuple] = []
        self.write_bytes = 0
        self.input_bytes = 0

    def run(self, spark) -> None:
        from pyspark.sql import types as T

        from scalable_etl_spark import medallion
        from scalable_etl_spark.acid import SnapshotTable
        from scalable_etl_spark.streaming import ingest
        from scalable_etl_spark.streaming.cdf import SnapshotChangesSource

        p = self.paths = {k: os.path.join(self.work, k) for k in (
            "landing", "bronze", "ckpt", "silver", "gold", "table", "cdf_ckpt",
            "cdf_out")}
        os.makedirs(p["landing"])
        spark.dataSource.register(SnapshotChangesSource)
        schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ])
        table = self.table = SnapshotTable(spark, p["table"])
        table.append(spark.createDataFrame(self.init_rows, schema))
        table.enable_change_data_feed()
        self.delivered, self.freshness = [], []
        self.replay = checks.CommitReplay(self.init_rows)
        ops = iter(self.ops)
        for self.round, files in enumerate(self.arrivals):
            r = self.round
            for f, text in enumerate(files):
                tmp = os.path.join(p["landing"], f".a{r}-{f}.tmp")
                with open(tmp, "w") as fh:
                    fh.write(text)
                os.rename(tmp, os.path.join(p["landing"], f"a{r}-{f}.jsonl"))
            landed = time.perf_counter()

            def do_ingest(rec):
                ingest.ingest_available(spark, p["landing"], p["bronze"], p["ckpt"])

            def do_silver(rec):
                silver = medallion.to_silver(spark.read.parquet(p["bronze"]))
                silver.repartition("user_name").write.mode("overwrite") \
                    .partitionBy("user_name").parquet(p["silver"])

            def do_gold(rec):
                gold = medallion.to_gold_user_peaks(spark.read.parquet(p["silver"]))
                gold.write.mode("overwrite").parquet(p["gold"])

            self._op(spark, "ingest", "ingest_available", do_ingest, "streaming.ingest")
            self._op(spark, "silver", "to_silver", do_silver, "medallion")
            self._op(spark, "gold", "to_gold_user_peaks", do_gold, "medallion")
            self.freshness.append(time.perf_counter() - landed)
            for op in ops:
                self._commit_op(spark, table, op, schema)
                if op.verb == "drain":
                    break

    def _commit_op(self, spark, table, op: gen.Op, schema) -> None:
        if op.verb == "read":
            def do_read(rec):
                t0 = time.perf_counter()
                df = table.read()
                rec.build_s = time.perf_counter() - t0
                noop(df)
            self._op(spark, "read", "read", do_read, "acid")
            return
        if op.verb == "drain":
            self._op(spark, "drain", "drain", self._drain, "streaming.cdf")
            if self.tracer.enabled:
                # what this drain delivered, read back outside the timed op
                got = self.read_delivered(spark)
                versions = {r[-1] for r in got} - {r[-1] for r in self.delivered}
                self.records[-1].attrs.update(rows=len(got) - len(self.delivered),
                                              versions=len(versions))
                self.delivered = got
            return
        df = spark.createDataFrame(op.rows, schema) if op.rows else None
        before = dir_stats(table.root)[1] if self.tracer.enabled else 0
        calls = {
            "append": lambda: table.append(df),
            "merge": lambda: table.merge(df, ["id"]),
            "delete_in": lambda: table.delete_in("id", op.ids),
            "update": lambda: table.update(f"grp = {op.grp}", {"v": "v + 1"}),
            "maybe_compact": lambda: table.maybe_compact(max_files=COMPACT_MAX_FILES),
        }
        version = self._op(spark, "commit", op.verb,
                           lambda rec: calls[op.verb](), "acid")
        self.replay.apply(op, version)
        if self.tracer.enabled:
            self.write_bytes += max(0, dir_stats(table.root)[1] - before)
            self.input_bytes += 20 * (len(op.rows) + len(op.ids))

    def _drain(self, rec) -> None:
        """One availableNow drain of the change feed into a parquet sink;
        the checkpoint makes each drain deliver only newer versions."""
        spark = self.table.spark
        q = (spark.readStream.format("snapshot_changes")
             .option("path", self.table.root)
             .option("readChangeFeed", "true")
             .load()
             .writeStream.format("parquet")
             .option("path", self.paths["cdf_out"])
             .option("checkpointLocation", self.paths["cdf_ckpt"])
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    def read_delivered(self, spark) -> list[tuple]:
        """Every change row the drains delivered so far:
        (id, grp, v, _change_type, _commit_version)."""
        return [tuple(r) for r in spark.read.parquet(self.paths["cdf_out"]).select(
            *checks.TABLE_COLS, "_change_type", "_commit_version").collect()]

    def check(self, spark) -> list[str]:
        p = self.paths
        self.delivered = self.read_delivered(spark)
        errs = checks.check_listen_etl(
            spark, os.path.join(p["landing"], "*.jsonl"), p["silver"], p["gold"])
        return errs + checks.check_commit_loop(self.table, self.replay, self.delivered)

    def layer_facts(self, spark) -> dict:
        """Counts read from disk after the run (traced run only)."""
        p = self.paths
        bronze_rows = spark.read.parquet(p["bronze"]).count()
        silver_rows = spark.read.parquet(p["silver"]).count()
        log_bytes = dir_stats(os.path.join(self.table.root, "_log"))[1]
        conflicts = sum(r.error.startswith("CommitConflict") for r in self.records)
        return {
            "streaming.ingest.files_read": len(source_log_files(p["ckpt"])),
            "streaming.ingest.files_written": dir_stats(p["bronze"], ".parquet")[0],
            "streaming.ingest.checkpoint_bytes": dir_stats(p["ckpt"])[1],
            "medallion.dup_drop_ratio": 1.0 - silver_rows / max(1, bronze_rows),
            "medallion.files_written": (dir_stats(p["silver"], ".parquet")[0]
                                        + dir_stats(p["gold"], ".parquet")[0]),
            "medallion.bytes_written": (dir_stats(p["silver"], ".parquet")[1]
                                        + dir_stats(p["gold"], ".parquet")[1]),
            "acid.live_files": len(self.table.committed_files()),
            "acid.commit_conflicts": conflicts,
            "acid.log_bytes": log_bytes,
            "acid.write_amp": self.write_bytes / max(1, self.input_bytes),
        }


def source_log_files(checkpoint: str) -> set[str]:
    """The input files a file-source streaming query committed, read
    from its checkpoint's source log (one JSON entry per file after a
    version line, in per-batch and compacted log files alike)."""
    files = set()
    for path in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    files.add(json.loads(line)["path"])
    return files


WORKLOADS = {w.name: w for w in (Analytics, EtlCommits)}
