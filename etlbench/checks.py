"""Correctness checks, run outside the timed region.

- registered queries: each query's Spark rows against its DuckDB
  oracle over the same generated tables, with the comparison helpers of
  ``tools/check_correctness.py``;
- listen ETL: silver and gold against DuckDB run over the NDJSON that
  landed;
- commit loop: the final snapshot and the drained change feed against
  a DuckDB replay of the same op stream.

Each check returns a list of mismatch messages; empty means correct.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb
import pyarrow as pa

from gen import Op


@functools.cache
def _check_correctness():
    """``tools/check_correctness.py`` loaded by path (``tools`` is not a
    package), for its ``row_key``; it registers every query on import."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def rows_equal(name: str, scols, srows, ocols, orows) -> list[str]:
    """Order-insensitive comparison by column name, as
    ``tools/check_correctness.py`` compares."""
    cc = _check_correctness()
    if sorted(scols) != sorted(ocols):
        return [f"{name}: columns {sorted(scols)} vs {sorted(ocols)}"]
    if len(srows) != len(orows):
        return [f"{name}: rows {len(srows)} vs {len(orows)}"]
    s_order = [list(scols).index(c) for c in sorted(scols)]
    o_order = [list(ocols).index(c) for c in sorted(ocols)]
    s_set = sorted(cc.row_key(tuple(r), s_order) for r in srows)
    o_set = sorted(cc.row_key(tuple(r), o_order) for r in orows)
    if s_set != o_set:
        diff = next((a, b) for a, b in zip(s_set, o_set) if a != b)
        return [f"{name}: value mismatch, first diff {diff}"]
    return []


def oracle_connection(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, f)}'")
    return con


def check_query(con, name: str, sdf) -> list[str]:
    """``sdf`` is the DataFrame the timed op built for query ``name``."""
    from scalable_etl_spark.registry import ORACLE_SQL

    srows = sdf.collect()
    otbl = con.execute(ORACLE_SQL[name]).fetch_arrow_table()
    orows = list(zip(*(c.to_pylist() for c in otbl.columns)))
    return rows_equal(name, sdf.columns, srows, otbl.column_names, orows)


# ------------------------------------------------------------ listen ETL

SILVER_COLS = ("user_name", "listened_at", "recording_msid", "track_name",
               "artist_name", "release_name", "listened_date", "year",
               "month", "day", "hour")
GOLD_COLS = ("user_name", "listened_date", "listen_count", "unique_tracks",
             "unique_artists")


def listen_oracle(ndjson_glob: str) -> tuple[list, list]:
    """(silver rows, gold rows) computed by DuckDB from the raw NDJSON."""
    con = duckdb.connect()
    con.execute(f"""
        CREATE TABLE raw AS SELECT * FROM read_json('{ndjson_glob}',
          format='newline_delimited',
          columns={{'listened_at': 'BIGINT', 'recording_msid': 'VARCHAR',
                   'user_name': 'VARCHAR',
                   'track_metadata': 'STRUCT(track_name VARCHAR,
                      artist_name VARCHAR, release_name VARCHAR)'}})""")
    con.execute("""
        CREATE TABLE silver AS
        SELECT user_name, listened_at, recording_msid,
               track_metadata.track_name AS track_name,
               track_metadata.artist_name AS artist_name,
               track_metadata.release_name AS release_name,
               DATE '1970-01-01' + CAST(floor(listened_at / 86400) AS INTEGER)
                 AS listened_date
        FROM raw
        QUALIFY row_number() OVER (PARTITION BY user_name, listened_at
                                   ORDER BY recording_msid ASC NULLS LAST) = 1""")
    silver = con.execute("""
        SELECT *, year(listened_date) AS year, month(listened_date) AS month,
               day(listened_date) AS day,
               CAST(floor((listened_at % 86400) / 3600) AS INTEGER) AS hour
        FROM silver""").fetchall()
    gold = con.execute("""
        SELECT user_name, listened_date, listen_count, unique_tracks,
               unique_artists FROM (
          SELECT user_name, listened_date, count(*) AS listen_count,
                 count(DISTINCT track_name) AS unique_tracks,
                 count(DISTINCT artist_name) AS unique_artists,
                 row_number() OVER (PARTITION BY user_name
                   ORDER BY count(*) DESC, listened_date ASC) AS rk
          FROM silver GROUP BY user_name, listened_date)
        WHERE rk <= 3""").fetchall()
    con.close()
    return silver, gold


def check_listen_etl(spark, landing_glob: str, silver_dir: str,
                     gold_dir: str) -> list[str]:
    silver_o, gold_o = listen_oracle(landing_glob)
    silver_s = spark.read.parquet(silver_dir).select(*SILVER_COLS).collect()
    gold_s = spark.read.parquet(gold_dir).select(*GOLD_COLS).collect()
    return (rows_equal("silver", SILVER_COLS, silver_s, SILVER_COLS, silver_o)
            + rows_equal("gold", GOLD_COLS, gold_s, GOLD_COLS, gold_o))


# ------------------------------------------------------------ commit loop

TABLE_COLS = ("id", "grp", "v")


def _batch(rows) -> pa.Table:
    return pa.table({
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "grp": pa.array([r[1] for r in rows], pa.int32()),
        "v": pa.array([r[2] for r in rows], pa.float64()),
    })


class CommitReplay:
    """DuckDB replay of the commit-loop op stream: the table state plus
    the change rows each committed version should deliver."""

    def __init__(self, init_rows):
        self.con = duckdb.connect()
        b = _batch(init_rows)  # noqa: F841  (read by DuckDB by name)
        self.con.execute("CREATE TABLE state AS SELECT * FROM b")
        # (version, change_type, id, grp, v)
        self.changes: list[tuple] = [(0, "insert", *r) for r in init_rows]

    def _images(self, version, kind, sql):
        self.changes += [(version, kind, *r) for r in self.con.execute(sql).fetchall()]

    def apply(self, op: Op, version: int | None) -> None:
        con = self.con
        if op.verb == "append":
            b = _batch(op.rows)  # noqa: F841
            self._images(version, "insert", "SELECT * FROM b")
            con.execute("INSERT INTO state SELECT * FROM b")
        elif op.verb == "merge":
            b = _batch(op.rows)  # noqa: F841
            self._images(version, "update_preimage",
                         "SELECT s.* FROM state s SEMI JOIN b USING (id)")
            self._images(version, "update_postimage",
                         "SELECT b.* FROM b SEMI JOIN state s USING (id)")
            self._images(version, "insert",
                         "SELECT b.* FROM b ANTI JOIN state s USING (id)")
            con.execute("DELETE FROM state WHERE id IN (SELECT id FROM b)")
            con.execute("INSERT INTO state SELECT * FROM b")
        elif op.verb == "delete_in":
            ids = ",".join(str(i) for i in op.ids)
            self._images(version, "delete",
                         f"SELECT * FROM state WHERE id IN ({ids})")
            con.execute(f"DELETE FROM state WHERE id IN ({ids})")
        elif op.verb == "update":
            self._images(version, "update_preimage",
                         f"SELECT * FROM state WHERE grp = {op.grp}")
            self._images(version, "update_postimage",
                         f"SELECT id, grp, v + 1 FROM state WHERE grp = {op.grp}")
            con.execute(f"UPDATE state SET v = v + 1 WHERE grp = {op.grp}")

    def snapshot(self) -> list[tuple]:
        return self.con.execute("SELECT * FROM state").fetchall()


def check_commit_loop(table, replay: CommitReplay, delivered: list[tuple]) -> list[str]:
    """``delivered`` rows are (id, grp, v, _change_type, _commit_version)."""
    snap = table.read().select(*TABLE_COLS).collect()
    errs = rows_equal("snapshot", TABLE_COLS, snap, TABLE_COLS, replay.snapshot())
    cols = ("version", "change_type", "id", "grp", "v")
    got = [(r[4], r[3], r[0], r[1], r[2]) for r in delivered]
    return errs + rows_equal("change_feed", cols, got, cols, replay.changes)
