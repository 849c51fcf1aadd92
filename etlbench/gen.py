"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns the same
inputs for a generator made from the same seed. Nothing here imports Spark:
the program under test receives only the files and op lists built here.

- ``write_tables``: the tables the selected registered queries read
  (same column names and types as the repository's test data), one
  parquet file per table.
- ``listen_arrivals``: ListenBrainz NDJSON listens with user skew,
  duplicate (user, listened_at) keys and several files per arrival.
- ``commit_ops``: the op stream for the snapshot-table commit loop.

Where each distribution parameter comes from is listed in README.md
("Generated inputs"): the table and corpus parameters are measured on
the repository's sf0.1 test data; the listen parameters are not
measured anywhere and carry no claim.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus vocabulary and language mix, as measured on the sf0.1
# ``documents`` table (30 words; the 31st word there, "dup", only marks
# near-duplicates, made the same way below).
VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
DOC_WORDS = (10, 100)  # words per document, uniform, as at sf0.1
SOURCES = 20           # document sources, round robin, as at sf0.1
LABELS = 10            # embedding labels, as at sf0.1
SEGMENTS = ("HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class TableScale:
    """Row counts are sf0.1 divided by 25; the ratios between them
    (10 orders per customer, 4 lineitems per order) are sf0.1's."""
    customers: int = 600
    orders: int = 6000
    lineitems: int = 24000
    parts: int = 800      # l_partkey range; no part table is read
    suppliers: int = 40   # l_suppkey range; no supplier table is read
    documents: int = 600
    near_dup_share: float = 0.05
    embeddings: int = 600
    dim: int = 64


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + seconds.astype("timedelta64[us]"), pa.timestamp("us"))


def write_tables(rng: np.random.Generator, out_dir: str,
                 scale: TableScale = TableScale()) -> dict:
    """Write the five query tables under ``out_dir``; return their
    recorded properties (row counts, near-duplicate share, language
    mix, document length)."""
    os.makedirs(out_dir, exist_ok=True)
    s = scale
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    day = 86_400 * 1_000_000
    t = {}
    t["customer"] = pa.table({
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        # 25 nations, as at sf0.1; no nation table is read
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, s.customers),
        "c_mktsegment": rng.choice(SEGMENTS, s.customers),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), s.orders),
        "o_totalprice": money(1000, 500000, s.orders),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2405, s.orders) * day),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders),
    })
    okeys = np.sort(rng.integers(0, s.orders, s.lineitems))
    linenr = np.zeros(s.lineitems, dtype=np.int32)
    for i in range(1, s.lineitems):
        linenr[i] = linenr[i - 1] + 1 if okeys[i] == okeys[i - 1] else 0
    qty = rng.integers(1, 51, s.lineitems).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, s.parts, s.lineitems),
        "l_suppkey": rng.integers(0, s.suppliers, s.lineitems),
        "l_linenumber": pa.array(linenr + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, s.lineitems), 2),
        "l_discount": rng.integers(0, 11, s.lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, s.lineitems) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), s.lineitems),
        "l_linestatus": rng.choice(("F", "O"), s.lineitems),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, 2499, s.lineitems) * day),
    })
    texts: list[str] = []
    n_dups = 0
    lo, hi = DOC_WORDS
    for i in range(s.documents):
        if i > 10 and rng.random() < s.near_dup_share:
            # near-duplicate: an earlier doc with a trailing marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            n_dups += 1
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(lo, hi + 1)))))
    langs = rng.choice(LANGS, s.documents, p=LANG_P)
    t["documents"] = pa.table({
        "doc_id": np.arange(s.documents, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % SOURCES}" for i in range(s.documents)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.normal(0, 1, (s.embeddings, s.dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)  # unit norm, as sf0.1
    t["embeddings"] = pa.table({
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, LABELS, s.embeddings), pa.int32()),
    })
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    words = sorted(len(x.split()) for x in texts)
    return {
        "rows": {name: tbl.num_rows for name, tbl in t.items()},
        "doc_near_dup_share": round(n_dups / s.documents, 4),
        "doc_words_median": words[len(words) // 2],
        "doc_lang_share": {lang: round(float(np.mean(langs == lang)), 4)
                           for lang in LANGS},
    }


# ------------------------------------------------------------ listens


@dataclass(frozen=True)
class ListenScale:
    """Not measured: the repository holds no ListenBrainz dump, and
    these values rest on no cited figure. They are chosen so that
    silver's dedup and the per-user partitioned write have work; no
    claim about ListenBrainz traffic may rest on them. One arrival per
    round of the workload."""
    arrivals: int
    listens_per_arrival: int = 2_000
    files_per_arrival: int = 2
    users: int = 12
    user_zipf: float = 1.3
    dup_share: float = 0.08
    tracks: int = 400


def listen_arrivals(rng: np.random.Generator, scale: ListenScale) -> list[list[str]]:
    """Arrivals of NDJSON listens: ``[arrival][file] -> text``.

    ``dup_share`` of the listens re-use the (user_name, listened_at) key
    of an earlier listen with another recording_msid, so silver's dedup
    has work; users are Zipf-skewed."""
    s = scale
    ranks = np.arange(1, s.users + 1, dtype=np.float64)
    p_user = ranks ** -s.user_zipf
    p_user /= p_user.sum()
    base = 1_700_000_000
    seen: list[tuple[int, int]] = []
    arrivals = []
    for a in range(s.arrivals):
        lines = []
        users = rng.choice(s.users, s.listens_per_arrival, p=p_user)
        times = base + a * 3 * 86_400 + rng.integers(0, 3 * 86_400, s.listens_per_arrival)
        tracks = rng.integers(0, s.tracks, s.listens_per_arrival)
        dup = rng.random(s.listens_per_arrival) < s.dup_share
        for i in range(s.listens_per_arrival):
            u, ts = int(users[i]), int(times[i])
            if dup[i] and seen:
                u, ts = seen[int(rng.integers(0, len(seen)))]
            else:
                seen.append((u, ts))
            tr = int(tracks[i])
            msid = f"msid-{a}-{i:06d}"
            lines.append(json.dumps({
                "listened_at": ts,
                "recording_msid": msid,
                "user_name": f"user_{u:03d}",
                "track_metadata": {
                    "artist_name": f"artist_{tr % 37}",
                    "track_name": f"track_{tr}",
                    "release_name": f"release_{tr % 53}",
                    "additional_info": {
                        "recording_msid": msid,
                        "release_msid": f"rel-{tr % 53}",
                        "artist_msid": f"art-{tr % 37}",
                        "tracknumber": tr % 12 + 1,
                        "tags": [f"tag{tr % 5}"],
                    },
                },
            }, separators=(",", ":")))
        cuts = np.linspace(0, len(lines), s.files_per_arrival + 1).astype(int)
        arrivals.append([
            "\n".join(lines[cuts[f]:cuts[f + 1]]) + "\n"
            for f in range(s.files_per_arrival)
        ])
    return arrivals


# ------------------------------------------------------------ commits

COMMIT_VERBS = ("append", "merge", "delete_in", "update", "maybe_compact")


@dataclass
class Op:
    verb: str
    rows: list = field(default_factory=list)  # (id, grp, v) batches
    ids: list = field(default_factory=list)   # delete_in keys
    grp: int = 0                              # update predicate group


@dataclass(frozen=True)
class CommitScale:
    """Design choices, not measured traffic: small batches, so that
    per-commit driver work dominates. One round per round of the
    workload."""
    rounds: int
    seed_rows: int = 200
    batch_min: int = 40
    batch_max: int = 80
    groups: int = 16


def commit_ops(rng: np.random.Generator, scale: CommitScale) -> tuple[list, list[Op]]:
    """(initial rows, op stream). Each round is one of each verb, then
    ``read`` and ``drain``: a fixed op order, so each op's first-use
    cost lands on the same op in every run, with keys, values and batch
    sizes from the seed. A merge batch mixes existing keys (updates)
    with new ones (inserts)."""
    s = scale
    next_id = s.seed_rows
    live = set(range(s.seed_rows))
    init = [(i, i % s.groups, float(i)) for i in range(s.seed_rows)]
    ops: list[Op] = []
    for _ in range(s.rounds):
        round_ops = []
        for verb in COMMIT_VERBS:
            n = int(rng.integers(s.batch_min, s.batch_max + 1))
            if verb == "append":
                rows = [(next_id + j, int(rng.integers(0, s.groups)),
                         float(rng.integers(0, 10_000))) for j in range(n)]
                next_id += n
                live.update(r[0] for r in rows)
                round_ops.append(Op("append", rows=rows))
            elif verb == "merge":
                old = rng.choice(sorted(live), min(n // 2, len(live)), replace=False)
                keys = [int(k) for k in old] + list(range(next_id, next_id + n - len(old)))
                next_id += n - len(old)
                live.update(keys)
                round_ops.append(Op("merge", rows=[
                    (k, int(rng.integers(0, s.groups)), float(rng.integers(0, 10_000)))
                    for k in keys]))
            elif verb == "delete_in":
                ids = [int(k) for k in rng.choice(sorted(live), min(n // 4, len(live)),
                                                  replace=False)]
                live.difference_update(ids)
                round_ops.append(Op("delete_in", ids=ids))
            elif verb == "update":
                round_ops.append(Op("update", grp=int(rng.integers(0, s.groups))))
            else:
                round_ops.append(Op("maybe_compact"))
        ops.extend(round_ops + [Op("read"), Op("drain")])
    return init, ops
