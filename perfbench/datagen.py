"""Deterministic star-schema tables for the benchmark.

Writes the ten tables the engine's queries read (``region nation customer
supplier part orders lineitem events documents embeddings``) as
single-row-group parquet files with the same schemas and value
distributions as the engine's test data. The tables are built from a fixed
seed, so every checkout produces the same rows, and the committed oracle
hashes in ``expected.json`` stay valid; ``fingerprint`` proves it.

Sizes: the star tables and ``events`` are at scale factor 0.1 (600k
``lineitem`` rows). ``documents`` and ``embeddings`` are at 0.01 (500 and
200 rows): the curation queries run multi-job driver loops whose cost is
mostly fixed per query, and at 0.1 one pass of them takes about a minute on
four cores, longer than a benchmark run can afford.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
STAR_SF = 0.1
DOC_SF = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _dates_us(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = _days(start, end)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def build_tables(
    seed: int = TABLE_SEED, star_sf: float = STAR_SF, doc_sf: float = DOC_SF
) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; the same arguments give the same rows."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * star_sf)
    n_supp = int(10_000 * star_sf)
    n_part = int(200_000 * star_sf)
    n_ord = int(1_500_000 * star_sf)
    n_line = int(6_000_000 * star_sf)
    n_ev = int(1_000_000 * star_sf)
    n_doc = int(50_000 * doc_sf)
    n_emb = int(20_000 * doc_sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_dates_us(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_dates_us(rng, n_line, "1995-01-02", "2001-11-04")),
    })
    ev_lo = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(rng.integers(ev_lo, ev_lo + 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, int(15_000 * star_sf), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents plus two kinds of duplicates: 5% near
    duplicates (an earlier document with `` dup`` appended) and a few exact
    copies under another source, as in the engine's test corpus."""
    texts: list[str] = []
    n_near = n // 20
    n_exact = max(1, n // 600)
    for i in range(n):
        if i >= n // 4 and i % 20 == 7 and n_near > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            n_near -= 1
        elif i >= n // 2 and i % 97 == 3 and n_exact > 0:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact -= 1
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """SHA-256 over every table's Arrow IPC bytes, in table-name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def ensure_tables(out_dir: str, expected_fingerprint: str | None) -> str:
    """Build the tables into ``out_dir`` once; later calls reuse them.

    Raises ``RuntimeError`` when the rows built here differ from the ones
    the committed hashes were computed on. The directory appears
    atomically, so an interrupted build is redone, never half-read.
    """
    done = os.path.join(out_dir, "_FINGERPRINT")
    if os.path.exists(done):
        return out_dir
    tables = build_tables()
    fp = fingerprint(tables)
    if expected_fingerprint is not None and fp != expected_fingerprint:
        raise RuntimeError(
            f"generated tables fingerprint {fp} != committed {expected_fingerprint}"
        )
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table) + 1
        )
    with open(os.path.join(tmp, "_FINGERPRINT"), "w") as fh:
        fh.write(fp + "\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir
