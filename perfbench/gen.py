"""Deterministic inputs for the benchmark.

Two generators, both pure functions of their arguments:

- :func:`make_bucket` writes a source bucket shaped like the paper's S3
  drops: ``DAYS`` days x ``FILES_PER_DAY`` day-stamped CSV files, every
  4th one gzipped. One target day carries the load. A quarter of its files
  add an extra column (a second header group, so union-by-name does work),
  every file has one column that is empty throughout, and about
  ``DUP_FRAC`` of its rows are exact copies of another row of the same
  file. The other days hold ``OTHER_ROWS_PER_FILE`` rows per file and are
  only listed and pruned.
- :func:`make_pack_tables` writes the fixture tables the query packs read
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``) with
  the fixture schemas and value domains, at a fixed size.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAYS = 10
FILES_PER_DAY = 40
OTHER_ROWS_PER_FILE = 1000
FIRST_DAY = dt.date(2025, 2, 1)
DUP_FRAC = 0.05
BASE_COLUMNS = ("id", "store_id", "amount", "category", "event_epoch", "notes")
EXTRA_COLUMN = "channel"
EMPTY_COLUMN = "notes"


@dataclass(frozen=True)
class Bucket:
    """What a generated bucket holds, as the checks need it."""

    root: str
    day: str
    files: int  # files of the target day
    rows: int  # rows written for the target day, duplicates included
    distinct_rows: int  # rows left after exact dedup
    other_files: int  # files of the other days


def _day_rows(rng: np.random.Generator, n: int, first_id: int, day: dt.date, extra: bool) -> list[str]:
    """``n`` CSV lines with unique ids, then about DUP_FRAC of them copied."""
    epoch0 = int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp())
    store = rng.integers(0, 1000, n)
    cents = rng.integers(0, 1_000_000, n)
    cat = rng.integers(0, 17, n)
    sec = rng.integers(0, 86400, n)
    chan = rng.integers(0, 4, n)
    lines = [
        f"{first_id + i},{store[i]},{cents[i] // 100}.{cents[i] % 100:02d},cat_{cat[i]},{epoch0 + sec[i]},"
        + (f",ch_{chan[i]}" if extra else "")
        for i in range(n)
    ]
    n_dup = round(n * DUP_FRAC)
    lines += [lines[i] for i in rng.choice(n, n_dup, replace=False)]
    return [lines[i] for i in rng.permutation(len(lines))]


def _write_csv(path: str, header: str, lines: list[str]) -> None:
    body = header + "\n" + "\n".join(lines) + "\n"
    if path.endswith(".gz"):
        # mtime=0 keeps the gzip header, and so the bytes, seed-determined
        with gzip.GzipFile(path, "wb", compresslevel=1, mtime=0) as fh:
            fh.write(body.encode())
    else:
        with open(path, "w") as fh:
            fh.write(body)


def make_bucket(root: str, seed: int, target_rows: int, other_rows: int = OTHER_ROWS_PER_FILE) -> Bucket:
    """Write the bucket under ``root``; the target day and all values come
    from ``seed``, the sizes only from ``target_rows`` and ``other_rows``
    (rows per file of the other days)."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    target = int(rng.integers(DAYS))
    per_file = target_rows // FILES_PER_DAY
    rows = distinct = 0
    for d in range(DAYS):
        day = FIRST_DAY + dt.timedelta(days=d)
        n = per_file if d == target else other_rows
        for f in range(FILES_PER_DAY):
            extra = d == target and f % 4 == 1
            header = ",".join(BASE_COLUMNS + ((EXTRA_COLUMN,) if extra else ()))
            lines = _day_rows(rng, n, (d * FILES_PER_DAY + f) * n, day, extra)
            name = f"data_{day.isoformat()}_part{f:03d}.csv" + (".gz" if f % 4 == 0 else "")
            _write_csv(os.path.join(root, name), header, lines)
            if d == target:
                rows += len(lines)
                distinct += n
    return Bucket(
        root=root,
        day=(FIRST_DAY + dt.timedelta(days=target)).isoformat(),
        files=FILES_PER_DAY,
        rows=rows,
        distinct_rows=distinct,
        other_files=(DAYS - 1) * FILES_PER_DAY,
    )


# --- query-pack tables -----------------------------------------------------

#: table sizes: the row counts of the sf0.01 fixture set
PACK_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
PACK_SEED = 20250203
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window a spark part group big sort query fast the"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("small", "red", "blue", "hot", "cold", "big", "green", "old")
NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve")
TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.13, 0.15)
DIM = 64


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(), pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Word soup over the fixture vocabulary; about 5% of the documents are
    an earlier document with `` dup`` appended (near duplicates)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]))
    return texts


def pack_tables(seed: int = PACK_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = PACK_ROWS
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(c), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(s), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), f64),
        }
    )
    p = n["part"]
    price = np.round(900 + (np.arange(p) % 1000) / 10, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(p), i64),
            "p_name": pa.array([f"{ADJ[k % 8]} {NOUN[(k // 8) % 8]}" for k in rng.integers(0, 64, p)]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": pa.array(price, f64),
        }
    )
    o = n["orders"]
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2400, o).astype("timedelta64[D]")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, o), f64),
            "o_orderdate": pa.array(odate, ts),
            "o_orderpriority": _pick(rng, PRIORITIES, o),
        }
    )
    lines_per = rng.integers(1, 8, o)
    okey = np.repeat(np.arange(o), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    m = len(okey)
    pkey = rng.integers(0, p, m)
    qty = rng.integers(1, 51, m).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, i64),
            "l_partkey": pa.array(pkey, i64),
            "l_suppkey": pa.array(rng.integers(0, s, m), i64),
            "l_linenumber": pa.array(lnum, i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * price[pkey], 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100, f64),
            "l_returnflag": _pick(rng, ("A", "N", "R"), m),
            "l_linestatus": _pick(rng, ("F", "O"), m),
            "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, m).astype("timedelta64[D]"), ts),
        }
    )
    e = n["events"]
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86400 * 10**6, e).astype("timedelta64[us]"))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(e), i64),
            "ts": pa.array(ev_ts, ts),
            "user_id": pa.array(rng.integers(0, 150, e), i64),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": pa.array(_money(rng, 0.01, 490.02, e), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    d = n["documents"]
    texts = _docs(rng, d)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(d), i64),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, d, LANG_P),
            "source": pa.array([f"src{k % 20}" for k in range(d)]),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    v = n["embeddings"]
    label = rng.integers(0, 10, v)
    centers = rng.normal(size=(10, DIM))
    vec = centers[label] + rng.normal(scale=1.5, size=(v, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(v), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, i32),
        }
    )
    return t


def make_pack_tables(root: str) -> str:
    """Write every pack table as ``root/<name>.parquet``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, table in pack_tables().items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
