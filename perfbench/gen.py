"""Seeded input generator for the benchmark.

Two datasets, each a directory of parquet files in the ``events`` /
TPC-H-ish / ``documents`` / ``embeddings`` schemas the engine reads
(FIXTURES.md):

- ``trace``: an ETW-like trace, ``events.parquet`` only. Time-ordered
  events with microsecond timestamps, ``N_TYPES`` event types drawn
  Zipf-skewed, and ragged JSON ``props`` (each type has its own key
  list; some events drop trailing keys).
- ``star``: the ten tables at scale factor ``sf`` with the fixture's
  value domains, FK-consistent keys and row order permuted by the
  seed. ``documents`` carries planted exact and near duplicates, whose
  (original, copy) pairs go to the manifest so the MinHash output can
  be checked against them.

The same (kind, seed, size) always gives byte-identical files; the
output is cached under ``root`` by that triple and written atomically
(temp dir + rename), so a cached dataset is always complete.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_TYPES = 200
ZIPF_S = 1.1
TRACE_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
ROW_GROUP = 65_536

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.44, 0.14, 0.14, 0.14, 0.14])
EXACT_DUP_SHARE = 0.02
NEAR_DUP_SHARE = 0.08
NEAR_DUP_EDITS = 1
NEAR_DUP_MIN_WORDS = 40
EMB_DIM = 64
EMB_NEAR_DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_ORDER_DAY0 = 9131  # 1995-01-01 as days since epoch
_ORDER_DAYS = 2404  # .. 2001-08-01
_SHIP_DAY0 = 9132  # 1995-01-02
_SHIP_DAYS = 2498  # .. 2001-11-04


def dataset(root: str, kind: str, seed: int, size: float) -> tuple[str, dict]:
    """Path and manifest of the (kind, seed, size) dataset, generating
    it first if it is not cached under ``root``."""
    path = os.path.join(root, f"{kind}-seed{seed}-size{size:g}")
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        builder = {"trace": make_trace, "star": make_star}[kind]
        manifest = builder(tmp, seed, size)
        manifest.update(kind=kind, seed=seed, size=size)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest_path) as f:
        return path, json.load(f)


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    file = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, file, row_group_size=ROW_GROUP)
    return os.path.getsize(file)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, ids: np.ndarray, width: int = 9) -> pa.Array:
    return pc.binary_join_element_wise(
        prefix, pc.utf8_lpad(pa.array(ids).cast(pa.string()), width, "0"), ""
    )


def _choice(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(values).take(pa.array(idx))


# ---------------------------------------------------------------- trace


def type_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, N_TYPES + 1) ** ZIPF_S
    return w / w.sum()


def make_trace(out_dir: str, seed: int, size: float) -> dict:
    """``size`` million events over ``N_TYPES`` Zipf-skewed types."""
    rng = np.random.default_rng([seed, 1])
    n = int(size * 1_000_000)
    weights = type_weights()
    # type rank -> name; the hottest type is not always the first name
    names = [f"Provider{i % 17:02d}/Event{i:03d}" for i in range(N_TYPES)]
    rank_to_name = rng.permutation(N_TYPES)
    type_idx = rank_to_name[rng.choice(N_TYPES, n, p=weights)]
    gaps = rng.integers(1, 4_000, n)
    ts_us = TRACE_START_US + np.cumsum(gaps)
    # per-type property schema: 2..8 keys from a shared key pool
    pool = ["pid", "tid", "cpu", "irql", "status", "handle", "size",
            "flags", "port", "offset", "count", "prio"]
    n_keys = rng.integers(2, 9, N_TYPES)
    schema = [list(rng.choice(pool, k, replace=False)) for k in n_keys]
    # ragged rows: about 30% of events drop their type's last key
    keep = n_keys[type_idx] - (rng.random(n) < 0.3).astype(np.int64)
    parts = []
    for slot in range(int(n_keys.max())):
        key = pa.array(
            [s[slot] if slot < len(s) else "" for s in schema]
        ).take(pa.array(type_idx))
        val = pa.array(rng.integers(0, 1 << 16, n)).cast(pa.string())
        sep = "{" if slot == 0 else ", "
        piece = pc.binary_join_element_wise(sep + '"', key, '": ', val, "")
        parts.append(pc.if_else(pa.array(slot < keep), piece, ""))
    props = pc.binary_join_element_wise(*parts, "}", "")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(ts_us),
            "user_id": pa.array(rng.integers(0, 10_000, n)),
            "event_type": _choice(names, type_idx),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
            "props": props,
        }
    )
    nbytes = _write(out_dir, "events", table)
    counts = np.bincount(type_idx, minlength=N_TYPES)
    return {
        "tables": {"events": {"rows": n, "bytes": nbytes}},
        "event_types": N_TYPES,
        "zipf_s": ZIPF_S,
        "hottest_type_share": round(float(counts.max() / n), 4),
        "rarest_type_rows": int(counts[counts > 0].min()),
        "ragged_share": 0.3,
    }


# ----------------------------------------------------------------- star


def _documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, list]:
    words = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    copies = rng.choice(np.arange(n // 2, n), n_exact + n_near, replace=False)
    # near-dup sources are long enough that one edit keeps the 3-shingle
    # Jaccard above 0.8, far over the LSH candidate threshold
    long_src = np.flatnonzero(lengths[: n // 2] >= NEAR_DUP_MIN_WORDS)
    near_pairs = []
    for j, dst in enumerate(copies):
        pool = long_src if j >= n_exact else np.arange(n // 2)
        src = int(pool[rng.integers(0, len(pool))])
        toks = texts[src].split(" ")
        if j >= n_exact:
            for pos in rng.choice(len(toks), NEAR_DUP_EDITS, replace=False):
                # shift by 1..len-1 so the word always changes
                cur = VOCAB.index(toks[pos])
                toks[pos] = VOCAB[(cur + rng.integers(1, len(VOCAB))) % len(VOCAB)]
            near_pairs.append([src, int(dst)])
        texts[dst] = " ".join(toks)
    text = pa.array(texts)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": _choice(LANGS[0], rng.choice(5, n, p=LANGS[1])),
            "source": _labels("src", np.arange(n) % 20, 1),
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
        }
    )
    return table, near_pairs


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM))
    n_near = int(n * EMB_NEAR_DUP_SHARE)
    dst = rng.choice(np.arange(n // 2, n), n_near, replace=False)
    src = rng.integers(0, n // 2, n_near)
    vecs[dst] = vecs[src] + 0.05 * rng.standard_normal((n_near, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_star(out_dir: str, seed: int, sf: float) -> dict:
    """The ten tables at scale factor ``sf`` (sf=0.01: 60k lineitems)."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _labels("Customer#", np.arange(n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                rng.integers(0, 5, n_cust),
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _labels("Supplier#", np.arange(n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    pname = [f"{a} {b}" for a in adj for b in noun]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _choice(pname, rng.integers(0, len(pname), n_part)),
            "p_brand": _labels("Brand#", rng.integers(1, 26, n_part), 1),
            "p_type": _choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                rng.integers(0, 6, n_part),
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(_money(rng, 900.0, 999.9, n_part)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(["F", "O", "P"], rng.integers(0, 3, n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(
                (_ORDER_DAY0 + rng.integers(0, _ORDER_DAYS, n_ord)) * _DAY_US
            ),
            "o_orderpriority": _choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                rng.integers(0, 5, n_ord),
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _choice(["A", "N", "R"], rng.integers(0, 3, n_li)),
            "l_linestatus": _choice(["F", "O"], rng.integers(0, 2, n_li)),
            "l_shipdate": _ts(
                (_SHIP_DAY0 + rng.integers(0, _SHIP_DAYS, n_li)) * _DAY_US
            ),
        }
    )
    ev_ts = TRACE_START_US + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_ev)),
            "event_type": _choice(
                ["click", "error", "purchase", "signup", "view"],
                rng.integers(0, 5, n_ev),
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
            "props": pc.binary_join_element_wise(
                '{"k": ',
                pa.array(rng.integers(0, 100, n_ev)).cast(pa.string()),
                "}",
                "",
            ),
        }
    )
    t["documents"], near_pairs = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    stats = {}
    for name, table in t.items():
        if name not in ("region", "nation"):
            # permute row order by seed; keys stay FK-consistent
            table = table.take(pa.array(rng.permutation(table.num_rows)))
        stats[name] = {"rows": table.num_rows, "bytes": _write(out_dir, name, table)}
    return {
        "tables": stats,
        "exact_dup_share": EXACT_DUP_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
        "near_dup_pairs": near_pairs,
    }
