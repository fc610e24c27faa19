"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is derived from ``--seed``:
the ten corpus tables, the printer inventory, and the device answers the
simulated transport returns.

The corpus tables follow the reference test corpus the oracle suite runs
on (itself generated): the same schemas, row counts per scale factor and
value domains, keys and measures drawn uniformly over the same ranges,
the same document vocabulary and near-duplicate structure, isotropic unit
embeddings. perfbench/README.md lists, per query, the result rows and
Spark jobs, stages and eager jobs on both; ``run.py --corpus DIR`` runs
the query workload on any such directory for the comparison.

Determinism rules: per-table numpy generators are seeded from crc32 of
(seed, table); per-device facts come from md5 of (seed, ip[, cycle,
attempt]). Python's ``hash()`` is salted per process and is never used.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale factor 1; run.py generates sf0.01 (lineitem 60k).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.14, 0.41, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_corpus(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten corpus tables for ``seed`` at scale ``sf`` into
    ``out_dir``, one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(round(r * sf))) for t, r in BASE_ROWS.items()}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    r = _rng(seed, "customer")
    k = np.arange(n["customer"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(k, i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in k], s),
        "c_nationkey": pa.array(r.integers(0, 25, len(k)), i32),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, len(k)), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, len(k))], s),
    })

    r = _rng(seed, "supplier")
    k = np.arange(n["supplier"])
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(k, i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in k], s),
        "s_nationkey": pa.array(r.integers(0, 25, len(k)), i32),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, len(k)), f64),
    })

    r = _rng(seed, "part")
    k = np.arange(n["part"])
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(k, i64),
        "p_name": pa.array(names[r.integers(0, len(names), len(k))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, len(k))], s),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, len(k))], s),
        "p_size": pa.array(r.integers(1, 51, len(k)), i32),
        "p_retailprice": pa.array(np.round(900.0 + (k % 1000) / 10.0, 1), f64),
    })

    r = _rng(seed, "orders")
    k = np.arange(n["orders"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(k, i64),
        "o_custkey": pa.array(r.integers(0, n["customer"], len(k)), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, len(k))], s),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, len(k)), f64),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2405, len(k)) * _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, len(k))], s),
    })

    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(r.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(r.integers(1, 8, m), i32),
        "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, m), f64),
        "l_discount": pa.array(r.integers(0, 11, m) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, m) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, m)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, m)], s),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + r.integers(0, 2499, m)) * _DAY_US),
    })

    r = _rng(seed, "events")
    m = n["events"]
    users = max(1, int(round(15_000 * sf)))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(m), i64),
        # sorted draws plus the row index: strictly increasing, so unique
        "ts": _ts(_EPOCH_2024 + np.sort(r.integers(0, 30 * _DAY_US - m, m)) + np.arange(m)),
        "user_id": pa.array(r.integers(0, users, m), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, m)], s),
        "value": pa.array(np.round(r.exponential(50.0, m), 2), f64),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, m)], s),
    })

    r = _rng(seed, "documents")
    m = n["documents"]
    vocab = np.array(VOCAB)
    # Uniform draws from a 31-word vocabulary. NEAR_DUP_FRAC of the documents
    # repeat an earlier one with the last word dropped or one word appended,
    # as in the reference corpus (5% near-duplicates at sf0.01 and sf0.1,
    # chains of them included); these are q29's and q72's near-dup pairs.
    texts: list[str] = []
    for i in range(m):
        if i and r.random() < NEAR_DUP_FRAC:
            words = texts[r.integers(0, i)].split()
            if r.random() < 0.5:
                words = words[:-1]
            else:
                words.append(vocab[r.integers(0, len(vocab))])
        else:
            words = list(vocab[r.integers(0, len(vocab), r.integers(10, 100))])
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(m), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(LANGS)[r.choice(5, m, p=LANG_WEIGHTS)], s),
        "source": pa.array([f"src{i % 20}" for i in range(m)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    r = _rng(seed, "embeddings")
    m = n["embeddings"]
    # isotropic unit vectors; labels carry no cluster structure
    vecs = r.normal(0.0, 1.0, (m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = r.integers(0, 10, m)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })


# --- printer fleet -----------------------------------------------------------

DEVICE_TYPES = (
    "M402dn", "M404dn", "M426fdn", "M426fdw", "M477fnw", "M521dn", "E60055",
    "E60155", "E72525", "M527", "SL-M3820ND", "MFC-L9570CDW", "408dn", "X999",
)
BAD_IPS = ("", "-", "n/a", "NA", "none", "0.0.0.0", "null")


def md5_unit(*parts: object) -> float:
    """Uniform [0, 1) draw keyed by ``parts``: the same key gives the same
    value in every process (unlike the salted built-in ``hash``)."""
    digest = hashlib.md5("|".join(map(str, parts)).encode()).digest()
    return int.from_bytes(digest[:8], "big") / 2.0**64


def make_fleet(path: str, seed: int, devices: int, bad_ip_frac: float) -> list[str]:
    """Write a two-group ``printers.json`` inventory; returns the good IPs.

    Two thirds of the devices sit in Company_Grouped, the rest in
    Branches_Grouped. ``bad_ip_frac`` of them carry a sentinel IP from the
    reference's bad-IP set, which the poll cycle must skip.
    """
    company, branches, good = [], [], []
    for i in range(devices):
        if md5_unit(seed, "badip", i) < bad_ip_frac:
            ip = BAD_IPS[i % len(BAD_IPS)]
        else:
            ip = f"10.{i >> 16 & 255}.{i >> 8 & 255}.{i & 255}"
            good.append(ip)
        kind = DEVICE_TYPES[int(md5_unit(seed, "type", i) * len(DEVICE_TYPES))]
        row = {"ID": str(1000 + i), "Printer IP": ip, "Type": kind,
               "Serial": f"SN{zlib.crc32(f'{seed}:{i}'.encode()):08X}", "Comment": None}
        if i % 3 < 2:
            company.append({**row, "Floor": str(1 + i % 5)})
        else:
            branches.append({**row, "Name": f"סניף {i}", "BO IP": f"10.200.{i >> 8 & 255}.{i & 255}"})
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"Company_Grouped": company, "Branches_Grouped": branches}, fh,
                  ensure_ascii=False)
    os.replace(tmp, path)
    return good
