"""Deterministic inputs for the benchmark.

Two families, both written under the benchmark's work directory:

* ``write_tables(out_dir, sf)`` — the ten parquet tables the registry's
  queries read (``catalog.TABLES``), with the schemas and value ranges of
  the driver fixtures described in ``FIXTURES.md``. The data depends only on
  ``sf``: the expected query results in ``expected/`` are derived from it
  once, through the DuckDB oracle (``make_expected.py``).
* ``write_avro_source(root, seed, ...)`` — a hive-partitioned folder of many
  small snappy Avro container files with two writer schemas (the older
  files lack ``score``, which has a default). It is encoded here with a
  small stand-alone writer, not with the engine's codec, so a codec bug
  cannot hide behind a symmetric read. It returns the per-leaf record count
  and order-insensitive checksums the compacted output must reproduce.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes: expected results are keyed on it.
GENERATOR_VERSION = 1

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PNOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table. The text and vector tables keep a floor of 500
    rows so the smallest scale still has near-duplicates to find."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n)


def _ts_ms(days: np.ndarray) -> pa.Array:
    return pa.array(days * 86_400_000, type=pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    n = table_rows(sf)
    rng = np.random.default_rng(20240101)
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

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })

    np_ = n["part"]
    adj = np.array(_PADJ)[rng.integers(0, len(_PADJ), np_)]
    noun = np.array(_PNOUN)[rng.integers(0, len(_PNOUN), np_)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
    })

    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": _ts_ms(_days(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_ms(_days(rng, nl, "1995-01-02", "2001-11-04")),
    })

    ne = n["events"]
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(start_us + rng.integers(0, span_us, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        # Nanosecond storage, like the driver fixture: catalog.load must
        # take its TIMESTAMP(NANOS) path.
        "ts": pa.array(ts_us * 1000, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(50, ne // 66), ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: Path, sf: float) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet``. Idempotent: a
    complete directory (marked by ``_READY``) is reused as is."""
    out_dir = Path(out_dir)
    marker = out_dir / "_READY"
    stamp = json.dumps({"version": GENERATOR_VERSION, "sf": sf})
    if marker.is_file() and marker.read_text() == stamp:
        return out_dir
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    marker.write_text(stamp)
    return out_dir


# ---------------------------------------------------------------------------
# Avro source folder
# ---------------------------------------------------------------------------

_V1_FIELDS = [
    {"name": "id", "type": "long"},
    {"name": "user", "type": "string"},
    {"name": "qty", "type": "int"},
    {"name": "amount", "type": "double"},
    {"name": "tag", "type": ["null", "string"], "default": None},
]
SCORE_DEFAULT = 0.5
_V2_FIELDS = _V1_FIELDS + [
    {"name": "score", "type": "double", "default": SCORE_DEFAULT},
]
SCHEMA_V1 = {"type": "record", "name": "sale", "fields": _V1_FIELDS}
SCHEMA_V2 = {"type": "record", "name": "sale", "fields": _V2_FIELDS}


def _zigzag(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63)
    out = bytearray()
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _encode_record(rec: dict, v2: bool) -> bytes:
    user = rec["user"].encode()
    parts = [
        _zigzag(rec["id"]),
        _zigzag(len(user)), user,
        _zigzag(rec["qty"]),
        struct.pack("<d", rec["amount"]),
    ]
    if rec["tag"] is None:
        parts.append(_zigzag(0))
    else:
        tag = rec["tag"].encode()
        parts += [_zigzag(1), _zigzag(len(tag)), tag]
    if v2:
        parts.append(struct.pack("<d", rec["score"]))
    return b"".join(parts)


def _container(records: list[dict], v2: bool, sync: bytes) -> bytes:
    """One snappy Object Container File with a single data block."""
    out = io.BytesIO()
    out.write(b"Obj\x01")
    meta = {
        "avro.schema": json.dumps(SCHEMA_V2 if v2 else SCHEMA_V1).encode(),
        "avro.codec": b"snappy",
    }
    out.write(_zigzag(len(meta)))
    for k, v in meta.items():
        out.write(_zigzag(len(k)) + k.encode() + _zigzag(len(v)) + v)
    out.write(_zigzag(0))
    out.write(sync)
    body = b"".join(_encode_record(r, v2) for r in records)
    block = pa.compress(body, codec="snappy", asbytes=True)
    block += struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    out.write(_zigzag(len(records)) + _zigzag(len(block)) + block + sync)
    return out.getvalue()


def leaf_checksum(records: list[dict]) -> dict:
    """Order-insensitive summary one compacted leaf must reproduce; the same
    aggregates are computed by the read-back scan (workloads.py)."""
    return {
        "n": len(records),
        "sum_id": sum(r["id"] for r in records),
        "sum_qty": sum(r["qty"] for r in records),
        "sum_amount": round(sum(r["amount"] for r in records), 6),
        "sum_score": round(sum(r.get("score", SCORE_DEFAULT) for r in records), 6),
        "n_tag_null": sum(r["tag"] is None for r in records),
        "sum_user_len": sum(len(r["user"]) for r in records),
    }


def write_avro_source(
    root: Path, seed: int, leaves: int, files_per_leaf: int, records_per_file: int
) -> tuple[dict[str, dict], int]:
    """Write ``root/region=rK/part-NNNN.avro``. The first half of each leaf's
    files use the old schema; the newer half (with later mtimes, so the
    compactor's latest-file schema rule picks v2) carries ``score``.
    Returns ({leaf value: checksum}, total source bytes)."""
    rng = np.random.default_rng(seed)
    root = Path(root)
    expected: dict[str, dict] = {}
    total = 0
    base_mtime = 1_700_000_000
    for leaf in range(leaves):
        key = f"r{leaf}"
        leaf_dir = root / f"region={key}"
        leaf_dir.mkdir(parents=True, exist_ok=True)
        leaf_records: list[dict] = []
        for f in range(files_per_leaf):
            v2 = f >= files_per_leaf // 2
            n = records_per_file
            ids = rng.integers(0, 1 << 40, n)
            qty = rng.integers(1, 100, n)
            amount = np.round(rng.uniform(0.0, 1000.0, n), 2)
            score = np.round(rng.uniform(0.0, 1.0, n), 3)
            tag_null = rng.random(n) < 0.2
            tags = rng.integers(0, 50, n)
            ulen = rng.integers(3, 12, n)
            recs = []
            for i in range(n):
                rec = {
                    "id": int(ids[i]),
                    "user": "u" + "x" * int(ulen[i]) + str(int(ids[i]) % 997),
                    "qty": int(qty[i]),
                    "amount": float(amount[i]),
                    "tag": None if tag_null[i] else f"t{int(tags[i])}",
                }
                if v2:
                    rec["score"] = float(score[i])
                recs.append(rec)
            sync = rng.bytes(16)
            data = _container(recs, v2, sync)
            path = leaf_dir / f"part-{f:04d}.avro"
            path.write_bytes(data)
            mtime = base_mtime + leaf * 10_000 + f
            os.utime(path, (mtime, mtime))
            total += len(data)
            leaf_records.extend(recs)
        expected[key] = leaf_checksum(leaf_records)
    return expected, total
