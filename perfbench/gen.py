"""Seeded input generator for the benchmark.

Every table is synthesized from ``--seed`` alone (the program under test
only ever sees the files written here). A small base replica with the
schema of the repository's test fixtures (TPC-H-like star schema, an
``events`` stream table, a ``documents`` corpus and 64-d ``embeddings``)
is generated with NumPy, then replicated FACTOR times with disjoint key
shifts: joins stay consistent inside a replica and never match across
replicas.

Replicas i > 0 perturb ``documents.text`` and ``embeddings`` instead of
copying them verbatim, so near-duplicate and nearest-neighbour
candidates grow about ×FACTOR rather than ×FACTOR² (verbatim copies
make every duplicate cluster FACTOR times larger, and its pair count
FACTOR² times larger). Two tiers, assigned per document by hash:

- LIGHT (10%): 4% of token positions replaced; still a near-duplicate
  of its original, so dedup has real candidate work that grows ×FACTOR;
- HEAVY (the rest): 45% of positions replaced with per-document tagged
  fillers; Jaccard against the original falls below the near-dup
  threshold, so the document survives dedup as new content.

Tables are written as several parquet files each (the multi-file layout
real tables have) under ``<root>/seed-<n>/<table>/``. A finished
directory carries a ``DONE`` marker and is reused by later runs with the
same seed, so generation stays out of the timed set-up.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the generated content changes, so stale caches are rebuilt.
GEN_VERSION = 2

FACTOR = 4
FILES_PER_TABLE = 4
DIM = 64

# base replica row counts (the sf0.001 test fixture sizes)
BASE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

# table -> key columns shifted per replica; [] = dimension, copied once
SHIFT_COLS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# key domains shared across tables shift by the same base, or joins break
KEY_DOMAIN = {
    "o_custkey": "c_custkey",
    "l_orderkey": "o_orderkey",
    "l_partkey": "p_partkey",
    "l_suppkey": "s_suppkey",
}
TABLES = tuple(SHIFT_COLS)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_STOP = ("the", "a", "of", "and", "to", "in", "is")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
_T0_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_T0_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


class KeyColumnError(ValueError):
    """A key column to shift is empty or not integer-typed, so no shift
    base can be derived from its maximum."""


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, t0, span_days: int, n: int) -> np.ndarray:
    return t0 + (rng.integers(0, span_days, n) * _DAY_US).astype("timedelta64[us]")


def _doc_text(rng, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def base_tables(seed: int) -> dict[str, pa.Table]:
    """One replica of every table, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n = BASE_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ).tolist(),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = ["red", "blue", "small", "large", "hot", "old", "green", "bright"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, _T0_1995, 2400, no),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ).tolist(),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, _T0_1995, 2500, nl),
        }
    )
    ne = n["events"]
    gaps = rng.integers(1, 2 * 30 * _DAY_US // ne, ne)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _T0_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(2, ne // 66), ne), pa.int64()),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], ne
            ).tolist(),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [_doc_text(rng, int(w)) for w in rng.integers(10, 100, nd)]
    # 5% near-duplicates of an earlier document (one extra token)
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = _documents(
        np.arange(nd),
        texts,
        rng.choice(_LANGS, nd, p=_LANG_P).tolist(),
        [f"src{s}" for s in rng.integers(0, 20, nd)],
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, DIM))
    vecs = 0.15 * centers[labels] + rng.normal(size=(nv, DIM)) / np.sqrt(DIM)
    out["embeddings"] = _embeddings(np.arange(nv), vecs, labels)
    return out


def _documents(ids, texts, langs, sources) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(ids, vecs: np.ndarray, labels) -> pa.Table:
    unit = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(unit), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def shift_bases(tables: dict[str, pa.Table]) -> dict[str, int]:
    """Per key domain, max+1 over every column in that domain. Raises
    KeyColumnError on an empty or non-integer key column."""
    bases: dict[str, int] = {}
    for table, cols in SHIFT_COLS.items():
        for c in cols:
            col = tables[table].column(c)
            if not pa.types.is_integer(col.type):
                raise KeyColumnError(f"{table}.{c}: key column has type {col.type}")
            top = pc.max(col).as_py()
            if top is None:
                raise KeyColumnError(f"{table}.{c}: key column is empty")
            domain = KEY_DOMAIN.get(c, c)
            bases[domain] = max(bases.get(domain, 0), top + 1)
    return bases


def _mutate_text(text: str, doc_id: int, replica: int) -> str:
    key = f"{doc_id}:{replica}".encode()
    h = int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")
    rng = np.random.default_rng(h)
    rate = 0.04 if h % 100 < 10 else 0.45
    toks = text.split()
    fillers = [f"f{doc_id}x{j}" for j in range(25)]
    picks = np.flatnonzero(rng.random(len(toks)) < rate)
    if picks.size == 0:  # a replica is never a verbatim copy
        picks = rng.integers(0, len(toks), 1)
    for i in picks:
        toks[i] = (
            _STOP[int(rng.integers(0, len(_STOP)))]
            if rng.random() < 0.22
            else fillers[int(rng.integers(0, len(fillers)))]
        )
    return " ".join(toks)


def replicate(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """FACTOR disjoint key-shifted replicas; documents and embeddings of
    replicas i > 0 are perturbed (see module docstring)."""
    bases = shift_bases(base)
    rng = np.random.default_rng([seed, 1])
    out: dict[str, pa.Table] = {}
    for table, cols in SHIFT_COLS.items():
        t = base[table]
        if not cols:
            out[table] = t
            continue
        parts = []
        for i in range(FACTOR):
            rep = t
            for c in cols:
                offset = i * bases[KEY_DOMAIN.get(c, c)]
                shifted = pc.add(t.column(c), pa.scalar(offset, t.schema.field(c).type))
                rep = rep.set_column(rep.schema.get_field_index(c), c, shifted)
            if i > 0 and table == "documents":
                ids = t.column("doc_id").to_pylist()
                texts = [
                    _mutate_text(x, d, i)
                    for x, d in zip(t.column("text").to_pylist(), ids)
                ]
                rep = _documents(
                    rep.column("doc_id"), texts, t.column("lang"), t.column("source")
                )
            elif i > 0 and table == "embeddings":
                vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                noisy = vecs + 0.6 * rng.normal(size=vecs.shape) / np.sqrt(DIM)
                rep = _embeddings(rep.column("vec_id"), noisy, t.column("label"))
            parts.append(rep)
        out[table] = pa.concat_tables(parts)
    return out


def write_tables(tables: dict[str, pa.Table], dst: str) -> None:
    for name, t in tables.items():
        d = os.path.join(dst, name)
        os.makedirs(d, exist_ok=True)
        k = FILES_PER_TABLE if t.num_rows >= FILES_PER_TABLE * 8 else 1
        step = -(-t.num_rows // k)
        for j in range(k):
            path = os.path.join(d, f"part-{j:05d}.parquet")
            pq.write_table(t.slice(j * step, step), path)


def table_hashes(root: str) -> dict[str, str]:
    """sha256 of each table's files, in name order."""
    out = {}
    for name in TABLES:
        h = hashlib.sha256()
        d = os.path.join(root, name)
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
        out[name] = h.hexdigest()
    return out


def ensure_inputs(cache_root: str, seed: int) -> str:
    """Directory holding the seed's tables, generated on first use."""
    dst = os.path.join(cache_root, f"v{GEN_VERSION}", f"seed-{seed}")
    if os.path.exists(os.path.join(dst, "DONE")):
        return dst
    tmp = dst + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(replicate(base_tables(seed), seed), tmp)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)
    open(os.path.join(dst, "DONE"), "w").close()
    return dst
