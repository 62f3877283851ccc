"""Seeded input generator: the same seed always yields the same inputs.

The engine under test only ever receives what this module writes:
parquet tables for the OLAP workload, a keyspace file the replay server
loads, and parquet key/row columns for the point workload.  Each input
set comes with the answers the benchmark checks results against
(counts and CRC32 checksums), computed here, outside any timed region.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes.  "full" is what a run measures; "tiny" is the
# smoke-test size (sf0.001, about 2e3 keys).
SIZES = {
    "full": {
        "olap_scale": 0.1,
        "strings": 30_000,  # s:* keys, ~256 B values
        "hashes": 3_000,  # h:* keys, 8 fields each
        "point_keys": 30_000,  # p:* keys, ~16 B values
        "keycol": 30_000,  # rows the redis_get UDF enriches
        "writes": 30_000,  # rows the redis_kv sink writes
    },
    "tiny": {
        "olap_scale": 0.001,
        "strings": 1_500,
        "hashes": 150,
        "point_keys": 1_500,
        "keycol": 2_000,
        "writes": 2_000,
    },
}

_ALNUM = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", np.uint8
)
_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join customer index shard page cache plan"
).split()
_STOP = ["the", "a", "of", "and", "to", "in", "is"]
_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
_NOUN = ["ring", "bolt", "plate", "gear", "valve", "screw", "pipe", "nut"]
_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def crc(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so resizing one input never
    changes another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _strings(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n)
    raw = _ALNUM[rng.integers(0, len(_ALNUM), int(lengths.sum()))].tobytes()
    text = raw.decode("ascii")
    ends = np.cumsum(lengths).tolist()
    starts = [0] + ends[:-1]
    return [text[a:b] for a, b in zip(starts, ends)]


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    vocab = _WORDS + _STOP
    weights = np.array([1.0] * len(_WORDS) + [2.5] * len(_STOP))
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.12:
            # near-duplicate of an earlier doc: ~5% of tokens replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.13:
            # exact or whitespace/case variant duplicate
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.5 else "  " + src.upper())
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(vocab, k, p=weights).tolist()))
    langs = rng.choice(["en", "es", "zh", "de", "fr"], n, p=[0.4] + [0.15] * 4)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def olap_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus the document and embedding corpora
    the catalog's text, dedup and ANN entries read."""
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_docs, n_vec = max(60, int(50_000 * scale)), max(40, int(20_000 * scale))
    rng = _rng(seed, "olap")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    t["documents"] = _documents(_rng(seed, "documents"), n_docs)
    vrng = _rng(seed, "embeddings")
    vecs = vrng.normal(0.0, 0.15, (n_vec, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(vrng.integers(0, 10, n_vec, dtype=np.int32)),
    })
    return t


def _done(path: str, stamp: dict) -> bool:
    try:
        with open(os.path.join(path, "inputs.json")) as f:
            return json.load(f)["stamp"] == stamp
    except (OSError, ValueError, KeyError):
        return False


def _finish(path: str, stamp: dict, **extra) -> dict:
    meta = {"stamp": stamp, **extra}
    with open(os.path.join(path, "inputs.json"), "w") as f:
        json.dump(meta, f)
    return meta


def _load(path: str) -> dict:
    with open(os.path.join(path, "inputs.json")) as f:
        return json.load(f)


def make_olap(root: str, seed: int, size: str) -> dict:
    """Write the OLAP parquet tables; returns {"dir": ..., "rows": {...}}."""
    scale = SIZES[size]["olap_scale"]
    path = os.path.join(root, f"olap-{size}-{seed}")
    stamp = {"kind": "olap", "seed": seed, "sizes": SIZES[size], "v": 1}
    if not _done(path, stamp):
        os.makedirs(path, exist_ok=True)
        rows = {}
        for name, tbl in olap_tables(seed, scale).items():
            pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))
            rows[name] = tbl.num_rows
        _finish(path, stamp, rows=rows)
    return {"dir": path, "rows": _load(path)["rows"]}


def make_bulk(root: str, seed: int, size: str) -> dict:
    """String and hash keyspace for the bulk-read workload, plus the
    count and checksum each of its three reads must return."""
    sz = SIZES[size]
    path = os.path.join(root, f"bulk-{size}-{seed}")
    stamp = {"kind": "bulk", "seed": seed, "sizes": SIZES[size], "v": 1}
    if not _done(path, stamp):
        os.makedirs(path, exist_ok=True)
        rng = _rng(seed, "bulk")
        ns, nh = sz["strings"], sz["hashes"]
        skeys = [f"s:{i:08d}" for i in rng.permutation(ns)]
        svals = _strings(rng, ns, 224, 288)
        hkeys = [f"h:{i:07d}" for i in rng.permutation(nh)]
        hvals = _strings(rng, nh * 8, 12, 20)
        hashes = [
            [k, [[f"f{j}", hvals[i * 8 + j]] for j in range(8)]]
            for i, k in enumerate(hkeys)
        ]
        with open(os.path.join(path, "keyspace.json"), "w") as f:
            json.dump({"strings": list(zip(skeys, svals)), "hashes": hashes}, f)
        expect = {
            "scan": [ns, sum(crc(k) for k in skeys)],
            "kv": [ns, sum(crc(f"{k}={v}") for k, v in zip(skeys, svals))],
            "hash": [
                nh,
                sum(crc(k) + sum(crc(f"{fv[0]}={fv[1]}") for fv in fields)
                    for k, fields in hashes),
            ],
        }
        _finish(path, stamp, expect=expect, keys=ns + nh)
    meta = _load(path)
    return {"dir": path, "keyspace": os.path.join(path, "keyspace.json"),
            "expect": meta["expect"], "keys": meta["keys"]}


def make_point(root: str, seed: int, size: str, parts: int) -> dict:
    """Small-value keyspace, the key column the ``redis_get`` UDF
    enriches (~3/4 present, ~1/4 missing, ~1% NULL) and the rows the
    ``redis_kv`` sink writes, each split into ``parts`` parquet files
    so Spark reads them as ``parts`` partitions."""
    sz = SIZES[size]
    path = os.path.join(root, f"point-{size}-{seed}-{parts}")
    stamp = {"kind": "point", "seed": seed, "sizes": SIZES[size], "parts": parts, "v": 1}
    if not _done(path, stamp):
        os.makedirs(path, exist_ok=True)
        rng = _rng(seed, "point")
        npk, nk, nw = sz["point_keys"], sz["keycol"], sz["writes"]
        pkeys = [f"p:{i:08d}" for i in range(npk)]
        pvals = _strings(rng, npk, 12, 20)
        with open(os.path.join(path, "keyspace.json"), "w") as f:
            json.dump({"strings": list(zip(pkeys, pvals)), "hashes": []}, f)
        kind = rng.random(nk)
        pick = rng.integers(0, npk, nk)
        col: list[str | None] = []
        get_count = get_sum = 0
        for r, p in zip(kind.tolist(), pick.tolist()):
            if r < 0.01:
                col.append(None)
            elif r < 0.26:
                col.append(f"p:m{p:08d}")  # never stored: a missing key
            else:
                col.append(pkeys[p])
                get_count += 1
                get_sum += crc(pvals[p])
        wkeys = [f"w:{i:08d}" for i in rng.permutation(nw)]
        wvals = _strings(rng, nw, 12, 20)
        for i, chunk in enumerate(np.array_split(np.arange(nk), parts)):
            pq.write_table(
                pa.table({"k": pa.array([col[j] for j in chunk], pa.string())}),
                os.path.join(path, f"keycol-{i}.parquet"),
            )
        for i, chunk in enumerate(np.array_split(np.arange(nw), parts)):
            pq.write_table(
                pa.table({
                    "key": pa.array([wkeys[j] for j in chunk], pa.string()),
                    "value": pa.array([wvals[j] for j in chunk], pa.string()),
                }),
                os.path.join(path, f"writes-{i}.parquet"),
            )
        expect = {
            "get": [get_count, get_sum],
            "write": [nw, sum(crc(f"{k}={v}") for k, v in zip(wkeys, wvals))],
        }
        _finish(path, stamp, expect=expect, keys=nk + nw)
    meta = _load(path)
    return {
        "dir": path,
        "keyspace": os.path.join(path, "keyspace.json"),
        "keycol": [os.path.join(path, f"keycol-{i}.parquet") for i in range(parts)],
        "writes": [os.path.join(path, f"writes-{i}.parquet") for i in range(parts)],
        "expect": meta["expect"],
        "keys": meta["keys"],
    }

