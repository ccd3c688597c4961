"""Seeded input generator for the benchmark.

Every input is synthesized from ``--seed`` with NumPy and written with
pyarrow, so the same seed gives byte-identical files and nothing is read
from outside the run directory. The tables follow the engine's testdata
schemas and value domains (TPC-H-ish star schema, an ``events`` stream,
``documents`` and ``embeddings``); only the row counts and, for the
refresh inputs, the ship-date window are the benchmark's own.

Layouts:

- *relayout*: a seeded row permutation of each table split into
  ``FILES`` parquet files of ``ROW_GROUPS`` row groups each, written as a
  ``<table>.parquet/`` directory (the multi-split scan path real data
  takes; the engine's testdata is one file and one row group per table).
- *organic replica*: ``documents``/``embeddings`` replicated
  ``ORGANIC_FACTOR`` times; each copy is a near-duplicate of its original
  with probability ``ORGANIC_NEAR_PCT`` % (coin = hash(seed, id, copy))
  and otherwise a distinct document. Single-file, so the engine's
  compact-input ``fan_out`` path runs.
- *incremental feeds*: an ``events`` bootstrap before a cutoff, then
  update batches, each the next time slice plus re-emitted existing keys
  at later timestamps (real upserts).

Workload input sets: ``queries`` is the relayout of the star schema and
``events`` plus the organic replica; ``refresh`` is the relayout of the
pipeline's three sources plus the incremental feeds under ``feeds/``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 4
ROW_GROUPS = 2

# `queries`: row counts of the star-schema and events relayout
QUERY_ROWS = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "lineitem": 12000,
    "events": 2000,
}
# `queries`: base corpus size and the organic replica's shape
ORGANIC_BASE_DOCS = 150
ORGANIC_FACTOR = 4
ORGANIC_NEAR_PCT = 7
# `refresh`: the pipeline's three sources; ship dates span REFRESH_DAYS
# days, so the mart has that many ride_date partitions
REFRESH_LINEITEM_ROWS = 6000
REFRESH_DAYS = 30
# `refresh`: incremental bootstrap + update batches over one events stream
INC_BOOTSTRAP_ROWS = 2000
INC_BATCHES = 40
INC_BATCH_NEW = 30
INC_BATCH_REEMIT = 10
INC_ID_BLOCK = 250  # events per id_block partition of the COW target

_DOC_SHIFT = 10_000_000
_VOCAB = (
    "a the row scan slow fast table value part hash batch window spark order "
    "data column agg join small line customer query big key merge stream "
    "filter group sort vector"
).split()
_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(salt.encode())])


def _mix(*parts) -> np.ndarray:
    """splitmix64-style hash of equal-length integer arrays (or scalars)."""
    with np.errstate(over="ignore"):
        h = np.uint64(0x9E3779B97F4A7C15)
        for p in parts:
            h = (h ^ np.asarray(p).astype(np.uint64)) * np.uint64(0xBF58476D1CE4E5B9)
            h = h ^ (h >> np.uint64(31))
        return (h * np.uint64(0x94D049BB133111EB)) & _MASK64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def region() -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names})


def nation() -> pa.Table:
    keys = np.arange(25)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def customer(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": segs[r.integers(0, 5, n)],
    })


def supplier(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n),
    })


def part(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "part")
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n)], " "), noun[r.integers(0, 8, n)]),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": types[r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })


def orders(seed: int, n: int, n_customers: int) -> pa.Table:
    r = _rng(seed, "orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _days(dt.date(1995, 1, 1), r.integers(0, 2404, n)),
        "o_orderpriority": prio[r.integers(0, 5, n)],
    })


def lineitem(seed: int, n: int, n_orders: int, n_parts: int, n_suppliers: int,
             start: dt.date = dt.date(1995, 1, 2), days: int = 2499) -> pa.Table:
    r = _rng(seed, f"lineitem:{days}")
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_suppliers, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _days(start, r.integers(0, days, n)),
    })


def events(seed: int, n: int, days: int = 30, n_users: int = 150, salt: str = "events") -> pa.Table:
    r = _rng(seed, salt)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    micros = np.sort(r.integers(0, days * 86_400_000_000, n))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n), pa.int64()),
        "event_type": kinds[r.integers(0, 5, n)],
        "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def documents(seed: int, n: int) -> pa.Table:
    """Bag-of-words documents; ~5% are another document plus a trailing
    ``dup`` token (the testdata's planted near-duplicates)."""
    r = _rng(seed, "documents")
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in r.integers(10, 100, n)]
    for i in np.flatnonzero(r.random(n) < 0.05):
        texts[i] = texts[int(r.integers(0, n))] + " dup"
    langs = np.array(["en", "zh", "es", "de", "fr"])[
        r.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    r = _rng(seed, "embeddings")
    v = r.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def organic(seed: int, docs: pa.Table, embs: pa.Table, factor: int, near_pct: int):
    """``tools/stress_full.py``'s organic replica with the seed mixed
    into its coin: copy ``i`` of a row is a near-duplicate (one marked
    token appended; vector kept) with probability ``near_pct`` %, else a
    distinct document (every token suffixed; vector rotated and
    sign-flipped under a per-copy mask).

    ``stress_full.py`` marks every ~20th token instead. On documents of
    10-100 tokens that puts some pairs near the 0.6 Jaccard threshold,
    where the 8-band MinHash blocking misses a few percent of pairs, so
    the blocked dedup queries disagree with their exact oracles. One
    appended token keeps every near-duplicate pair at Jaccard >= 8/9,
    the regime the engine's testdata plants and its oracles assume."""
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].to_pylist()
    vecs = np.stack(embs["embedding"].to_numpy(zero_copy_only=False))
    dim = vecs.shape[1]
    out_docs, out_vecs = [docs], [vecs]
    for i in range(1, factor):
        near = (_mix(seed, ids, i) % np.uint64(100)) < np.uint64(near_pct)
        new_texts = []
        for text, is_near in zip(texts, near):
            toks = text.split(" ")
            if is_near:
                new_texts.append(f"{text} near{i}")
            else:
                new_texts.append(" ".join(f"{t}_{i}" for t in toks))
        out_docs.append(pa.table({
            "doc_id": pa.array(ids + i * _DOC_SHIFT, pa.int64()),
            "text": new_texts,
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array([len(t) for t in new_texts], pa.int64()),
        }))
        signs = np.where(_mix(seed, np.arange(dim), i) % np.uint64(2) == 0, 1.0, -1.0)
        rot = np.roll(vecs, -(i % dim), axis=1) * signs.astype(np.float32)
        out_vecs.append(np.where(near[:, None], vecs, rot).astype(np.float32))
    all_vecs = np.concatenate(out_vecs)
    n = len(ids)
    emb = pa.table({
        "vec_id": pa.array(np.concatenate([embs["vec_id"].to_numpy() + i * _DOC_SHIFT
                                           for i in range(factor)]), pa.int64()),
        "embedding": pa.array(list(all_vecs), pa.list_(pa.float32())),
        "label": pa.concat_arrays([embs["label"].combine_chunks()] * factor),
    })
    assert emb.num_rows == n * factor
    return pa.concat_tables(out_docs), emb


def incremental_feeds(seed: int) -> tuple[pa.Table, list[pa.Table]]:
    """Bootstrap (events before the cutoff) and update batches: batch b
    holds the next time slice of new events plus re-emitted keys from the
    two most recent id blocks, at later timestamps with new values."""
    n_total = INC_BOOTSTRAP_ROWS + INC_BATCHES * INC_BATCH_NEW
    ev = events(seed, n_total, days=40, salt="incremental")
    boot = ev.slice(0, INC_BOOTSTRAP_ROWS)
    r = _rng(seed, "incremental:reemit")
    batches = []
    for b in range(INC_BATCHES):
        lo = INC_BOOTSTRAP_ROWS + b * INC_BATCH_NEW
        new = ev.slice(lo, INC_BATCH_NEW)
        ts = new["ts"].to_numpy()
        pool = np.arange(max(0, lo - 2 * INC_ID_BLOCK), lo)
        keys = np.sort(r.choice(pool, INC_BATCH_REEMIT, replace=False))
        old = ev.take(pa.array(keys))
        later = ts[r.integers(0, len(ts), INC_BATCH_REEMIT)]
        re = old.set_column(1, "ts", pa.array(later, pa.timestamp("us"))).set_column(
            4, "value", pa.array(np.round(r.uniform(0.01, 500.0, INC_BATCH_REEMIT), 2)))
        batches.append(pa.concat_tables([new, re]))
    return boot, batches


def _write(table: pa.Table, path: str, files: int = 1, row_groups: int = 1,
           perm_rng: np.random.Generator | None = None) -> None:
    if files == 1 and perm_rng is None:
        pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))
        return
    os.makedirs(path)
    perm = perm_rng.permutation(table.num_rows) if perm_rng is not None else np.arange(table.num_rows)
    for k, chunk in enumerate(np.array_split(perm, files)):
        part_t = table.take(pa.array(chunk))
        pq.write_table(part_t, os.path.join(path, f"part-{k:05d}.parquet"),
                       row_group_size=max(1, -(-len(chunk) // row_groups)))


def _relayout(seed: int, out: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out)
    for name, t in tables.items():
        if t.num_rows >= 100:
            _write(t, f"{out}/{name}.parquet", FILES, ROW_GROUPS, _rng(seed, f"perm:{name}"))
        else:
            _write(t, f"{out}/{name}.parquet")


def build(seed: int, workload: str, out: str) -> dict:
    """Write ``workload``'s inputs under ``out`` (created) and return a
    description of them (paths are relative to ``out``)."""
    n = QUERY_ROWS
    if workload == "queries":
        _relayout(seed, out, {
            "region": region(),
            "nation": nation(),
            "customer": customer(seed, n["customer"]),
            "supplier": supplier(seed, n["supplier"]),
            "part": part(seed, n["part"]),
            "orders": orders(seed, n["orders"], n["customer"]),
            "lineitem": lineitem(seed, n["lineitem"], n["orders"], n["part"], n["supplier"]),
            "events": events(seed, n["events"]),
        })
        docs, embs = organic(seed, documents(seed, ORGANIC_BASE_DOCS),
                             embeddings(seed, ORGANIC_BASE_DOCS), ORGANIC_FACTOR, ORGANIC_NEAR_PCT)
        _write(docs, f"{out}/documents.parquet")
        _write(embs, f"{out}/embeddings.parquet")
        return {"sf_dir": "."}
    if workload == "refresh":
        _relayout(seed, out, {
            "region": region(),
            "nation": nation(),
            "lineitem": lineitem(seed, REFRESH_LINEITEM_ROWS, n["orders"], n["part"],
                                 n["supplier"], start=dt.date(2024, 1, 1), days=REFRESH_DAYS),
        })
        boot, batches = incremental_feeds(seed)
        os.makedirs(f"{out}/feeds")
        _write(boot, f"{out}/feeds/bootstrap.parquet", FILES, ROW_GROUPS,
               _rng(seed, "perm:bootstrap"))
        for b, t in enumerate(batches):
            _write(t, f"{out}/feeds/batch_{b:04d}.parquet")
        return {"sf_dir": ".", "bootstrap": "feeds/bootstrap.parquet",
                "batches": [f"feeds/batch_{b:04d}.parquet" for b in range(len(batches))]}
    raise ValueError(f"unknown workload {workload!r}")


def cached(seed: int, workload: str, cache_root: str) -> tuple[str, dict]:
    """Inputs for (workload, seed), generated once under ``cache_root``
    (keyed by this file's contents too, so a changed generator never
    reuses old inputs)."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:12]
    out = os.path.join(cache_root, f"{workload}-{seed}-{version}")
    meta_path = os.path.join(out, "_inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return out, json.load(fh)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = build(seed, workload, tmp)
    with open(os.path.join(tmp, "_inputs.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta
