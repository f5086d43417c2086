"""Seeded table generator for the benchmark's workloads.

Writes the ten tables the registry reads (`region nation customer
supplier part orders lineitem documents embeddings events`) as
single-row-group parquet files, one directory per (scale, seed), in the
fixture files' format (pyarrow writer, naive microsecond timestamps).
Row counts follow the fixture profile: at scale 1.0 they are
`tools/gen_sf1.py`'s sf1 counts, at 0.1 the sf0.1 fixture's.

The value domains are imported from `tools/gen_sf1.py` and each column
is one uniform draw over the same range its recipe uses.  Each column
draws from its own stream keyed by (seed, column salt), so a seed is a
fresh draw and the same seed gives the same bytes.  A stated share of
documents and of embeddings are planted near-duplicates: edited copies
of an earlier row (same lang and source block for documents), so the
exact set-similarity dedups have results to find.

The draws run in numpy rather than as Spark expressions: at sf0.05 the
Spark-native recipe took ~15 s on 4 cores, more than the benchmark's
per-run budget allows for set-up.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_sf1 import ADJ, N_CUST, N_ORD, N_PART, N_SUPP, NOUN, PRIOS, SEGS, TYPES

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events",
)

# sf1 row counts of the non-relational tables (tools/gen_sf1.py keeps
# them inline in its generator body)
N_DOCS = 50_000
N_EMB = 20_000
N_EVENTS = 1_000_000
N_USERS = 15_000
DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
WORDS = (
    "array", "batch", "block", "cache", "chunk", "column", "commit",
    "cosine", "delta", "embed", "engine", "filter", "frame", "graph",
    "hash", "index", "join", "merge", "model", "offset", "parquet",
    "query", "rank", "scan", "shard", "shuffle", "sketch", "store",
    "stream", "table", "vector",
)
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# share of documents / embeddings that are edited copies of an earlier row
DUP_SHARE = 0.05
# a copied word is replaced with this probability (about one edit per
# 40 words keeps a copy's word-3-gram Jaccard with its source near 0.85)
EDIT_RATE = 0.025
DAY_US = 86_400_000_000


def row_counts(scale: float) -> dict[str, int]:
    """Rows per generated table at `scale`, lineitem excepted (it is
    drawn per order, 1..7 lines each)."""
    return {
        "region": len(REGIONS),
        "nation": 25,
        "customer": max(1, int(N_CUST * scale)),
        "supplier": max(1, int(N_SUPP * scale)),
        "part": max(1, int(N_PART * scale)),
        "orders": max(1, int(N_ORD * scale)),
        "documents": max(2, int(N_DOCS * scale)),
        "embeddings": max(2, int(N_EMB * scale)),
        "events": max(1, int(N_EVENTS * scale)),
    }


class Draws:
    """One independent random stream per column salt, keyed by the seed."""

    def __init__(self, seed: int):
        self.seed = int(seed)

    def rng(self, salt: str) -> np.random.Generator:
        return np.random.default_rng([self.seed, zlib.crc32(salt.encode())])

    def u(self, salt: str, mod: int, n: int) -> np.ndarray:
        """n uniform ints in [0, mod)."""
        return self.rng(salt).integers(0, mod, size=n, dtype=np.int64)

    def pick(self, salt: str, options, n: int) -> pa.Array:
        idx = self.u(salt, len(options), n)
        return pa.DictionaryArray.from_arrays(
            pa.array(idx.astype(np.int32)), pa.array(list(options))
        ).cast(pa.string())


def _ts(days_us: np.ndarray) -> pa.Array:
    return pa.array(days_us, type=pa.timestamp("us"))


def _relational(d: Draws, n: dict) -> dict[str, pa.Table]:
    ids = {k: np.arange(v, dtype=np.int64) for k, v in n.items()}
    epoch_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % len(REGIONS)),
    })
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    customer = pa.table({
        "c_custkey": ids["customer"],
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": d.u("cnat", 25, nc).astype(np.int32),
        "c_acctbal": (d.u("cbal", 1_100_001, nc) - 100_000) / 100.0,
        "c_mktsegment": d.pick("cseg", SEGS, nc),
    })
    supplier = pa.table({
        "s_suppkey": ids["supplier"],
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": d.u("snat", 25, ns).astype(np.int32),
        "s_acctbal": (d.u("sbal", 1_100_001, ns) - 100_000) / 100.0,
    })
    adj = np.array(ADJ, dtype=object)[d.u("padj", len(ADJ), npart)]
    noun = np.array(NOUN, dtype=object)[d.u("pnoun", len(NOUN), npart)]
    part = pa.table({
        "p_partkey": ids["part"],
        "p_name": pa.array(adj + " " + noun, type=pa.string()),
        "p_brand": pa.array([f"Brand#{b + 1}" for b in d.u("pbrand", 25, npart)]),
        "p_type": d.pick("ptype", TYPES, npart),
        "p_size": (d.u("psize", 50, npart) + 1).astype(np.int32),
        "p_retailprice": 900.0 + d.u("pprice", 10_000, npart) / 100.0,
    })
    odate = epoch_1995 + d.u("odate", 2404, no) * DAY_US
    orders = pa.table({
        "o_orderkey": ids["orders"],
        "o_custkey": d.u("ocust", nc, no),
        "o_orderstatus": d.pick("ostat", ("O", "P", "F"), no),
        "o_totalprice": (d.u("oprice", 44_900_001, no) + 100_000) / 100.0,
        "o_orderdate": _ts(odate),
        "o_orderpriority": d.pick("oprio", PRIOS, no),
    })
    n_lines = d.u("nl", 7, no) + 1
    nli = int(n_lines.sum())
    l_order = np.repeat(ids["orders"], n_lines)
    starts = np.cumsum(n_lines) - n_lines
    l_num = (np.arange(nli) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": d.u("lpart", npart, nli),
        "l_suppkey": d.u("lsupp", ns, nli),
        "l_linenumber": l_num,
        "l_quantity": (d.u("lqty", 50, nli) + 1).astype(np.float64),
        "l_extendedprice": (d.u("lprice", 10_410_001, nli) + 90_000) / 100.0,
        "l_discount": d.u("ldisc", 11, nli) / 100.0,
        "l_tax": d.u("ltax", 9, nli) / 100.0,
        "l_returnflag": d.pick("lrf", ("A", "N", "R"), nli),
        "l_linestatus": d.pick("lls", ("F", "O"), nli),
        "l_shipdate": _ts(np.repeat(odate, n_lines) + (d.u("lship", 95, nli) + 1) * DAY_US),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def planted_sources(d: Draws, salt: str, n: int) -> np.ndarray:
    """For each row, the id of the earlier row it copies, or -1 for an
    original row.  Row 0 is always original."""
    rng = d.rng(f"{salt}dup")
    planted = rng.random(n) < DUP_SHARE
    planted[0] = False
    ids = np.arange(n)
    src = np.minimum(d.u(f"{salt}src", n, n), ids - 1)
    return np.where(planted, src, -1)


def _documents(d: Draws, n: int) -> tuple[pa.Table, int]:
    src = planted_sources(d, "doc", n)
    n_words = d.u("ndw", 51, n) + 29
    lang = d.u("dlang", len(LANGS), n)
    source = d.u("dsrc", 20, n)
    words = np.array(WORDS, dtype=object)
    rng_w = d.rng("dw")
    rng_e = d.rng("edit")
    texts: list[list[int]] = []
    for i in range(n):
        s = src[i]
        if s < 0:
            texts.append(rng_w.integers(0, len(WORDS), size=n_words[i]).tolist())
            continue
        # a copy takes its source's words, lang and source block, and
        # replaces each word with probability EDIT_RATE
        toks = np.array(texts[s])
        edit = rng_e.random(len(toks)) < EDIT_RATE
        toks[edit] = rng_e.integers(0, len(WORDS), size=int(edit.sum()))
        texts.append(toks.tolist())
        lang[i], source[i] = lang[s], source[s]
    text = [" ".join(words[t]) for t in texts]
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS, dtype=object)[lang], type=pa.string()),
        "source": pa.array([f"src{s}" for s in source]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    return table, int((src >= 0).sum())


def _embeddings(d: Draws, n: int) -> pa.Table:
    src = planted_sources(d, "emb", n)
    raw = (d.u("ev", 2001, n * DIM).reshape(n, DIM) - 1000) / 1000.0
    planted = np.flatnonzero(src >= 0)
    # a copy is its source's vector with one coordinate nudged, so its
    # cosine with the source stays above the 0.95 dedup threshold
    raw[planted] = raw[src[planted]]
    raw[planted, np.arange(len(planted)) % DIM] += 0.05
    vecs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM)
        .cast(pa.list_(pa.float32())),
        "label": d.u("elab", 10, n).astype(np.int32),
    })


def _events(d: Draws, n: int, n_users: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + d.u("ets", 30 * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": d.u("eu", n_users, n),
        "event_type": d.pick("etype", EVENT_TYPES, n),
        "value": d.u("eval", 56_022, n) / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in d.u("eprop", 100, n)]),
    })


def generate(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table for (scale, seed) under `out_dir` unless a
    complete copy is already there; return the row count of each table
    and the number of planted near-duplicate documents.

    `_rows.json` is written last, so an interrupted generation is redone."""
    marker = os.path.join(out_dir, "_rows.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    d = Draws(seed)
    n = row_counts(scale)
    tables = _relational(d, n)
    tables["documents"], planted_docs = _documents(d, n["documents"])
    tables["embeddings"] = _embeddings(d, n["embeddings"])
    tables["events"] = _events(d, n["events"], max(1, int(N_USERS * scale)))
    rows = {}
    for name in TABLES:
        t = tables[name]
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
        rows[name] = t.num_rows
    rows["planted_docs"] = planted_docs
    with open(marker, "w") as fh:
        json.dump(rows, fh, sort_keys=True)
    return rows
