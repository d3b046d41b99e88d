"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()[name] on
DuckDB over the same parquet, compares row count, sorted-column schema, and
order-insensitive values. Use while iterating; the driver runs its own copy.

Two comparison tiers per oracle-paired entry:
- ``value_match`` — the long-standing atol=1e-9 pandas comparison;
- ``hash_match`` — the DRIVER-faithful hard signal: columns sorted by name,
  rows sorted, every cell stringified exactly (repr for floats — lossless
  round-trip), md5 over the canonical bytes. An entry is only "green" if
  the hashes agree; atol-close-but-not-identical values FAIL this tier,
  exactly like the driver (the r6 embedding_covariance lesson).

Usage:
  python tools/check_correctness.py [sf_dir] [name ...]
  python tools/check_correctness.py --json OUT.json [sf_dir] [name ...]
  python tools/check_correctness.py --diff PARENT.json CHANGE.json

With --json, writes the machine-readable full-registry sweep artifact
(VERDICT r6 item 2): one record per entry with rows/schema/value/hash
status plus the git commit stamp, so every round closes with an
all-entries sweep on record (CORRECTNESS_local_r{N}.json at the repo root).
Every record carries ``spark_hash``, the Spark side's value hash, rows-only
entries included, so two sweeps (e.g. a parent and a change) can be diffed
entry by entry: --diff prints every entry whose status (OK / ROWS /
FAIL) or ``spark_hash`` differs between two such files, or that only
one of them has, and exits 1 if there are any.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from etl_from_s3_to_postgresql_template_spark.session import get_spark
from etl_from_s3_to_postgresql_template_spark.sources.registry import TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _cell_repr(v) -> str:
    """Exact, engine-agnostic cell canonicalization: repr() of a float64
    round-trips losslessly, ints/strings/bools/None are unambiguous."""
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if v != v:  # NaN
            return "\0NAN"
        return repr(v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return "\0NAN" if f != f else repr(f)
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    return str(v)


def _canonical_rows(df: pd.DataFrame) -> list[str]:
    # length-prefix every cell repr so the encoding is INJECTIVE: the
    # join separators can legitimately appear inside text cells, and
    # without the prefix two different row multisets could hash equal
    # (and the per-column diff could misalign) — review r7
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [
        "\x1f".join(f"{len(c)}:{c}" for c in map(_cell_repr, rec))
        for rec in df.itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def value_hash(df: pd.DataFrame) -> str:
    """Driver-faithful hard hash: sorted columns, sorted rows, exact cells."""
    h = hashlib.md5()
    h.update("\x1e".join(sorted(df.columns)).encode())
    for r in _canonical_rows(df):
        h.update(b"\x1d")
        h.update(r.encode(errors="replace"))
    return h.hexdigest()


def first_cell_diff(sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    """Human hint for a hash-tier mismatch: the first canonical row where
    the two engines' exact cell representations diverge, with the
    offending column named — without this, the hash gate's primary
    failure mode (values within atol, bits different) carried no
    diagnostics at all (review r7)."""
    cols = sorted(sdf.columns)
    s_rows, o_rows = _canonical_rows(sdf), _canonical_rows(odf)
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            for col, av, bv in zip(cols, a.split("\x1f"), b.split("\x1f")):
                if av != bv:
                    return f"row {i} col {col!r}: spark={av!r} oracle={bv!r}"
            return f"row {i}: {a!r} vs {b!r}"
    if len(s_rows) != len(o_rows):
        return f"row-multiset lengths {len(s_rows)} vs {len(o_rows)}"
    return "hashes differ but canonical rows compare equal (encoding?)"


def _status(payload: dict, name: str) -> str:
    if name in payload["failures"]:
        return "FAIL"
    return "ROWS" if payload["entries"][name].get("rows_only") else "OK"


def diff(parent_json: str, change_json: str) -> int:
    with open(parent_json) as f:
        parent = json.load(f)
    with open(change_json) as f:
        change = json.load(f)
    a, b = parent["entries"], change["entries"]
    n_diff = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"ONLY  {name}: {'parent' if name in a else 'change'}")
            n_diff += 1
            continue
        sa, sb = _status(parent, name), _status(change, name)
        ha, hb = a[name]["spark_hash"], b[name]["spark_hash"]
        if sa != sb or ha != hb:
            print(f"DIFF  {name}: status {sa} -> {sb}, spark_hash {ha} -> {hb}")
            n_diff += 1
    print(f"{len(a.keys() & b.keys())} common entries, {n_diff} differ")
    return 1 if n_diff else 0


def main() -> int:
    argv = sys.argv[1:]
    if argv and argv[0] == "--diff":
        return diff(argv[1], argv[2])
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    records: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": None,
            "schema_match": None,
            "value_match": None,
            "hash_match": None,
            "spark_rows": None,
            "spark_hash": None,
            "oracle_rows": None,
            "err": None,
        }
        records[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"spark error: {e}"
            print(f"FAIL  {name}: spark error: {e}")
            continue
        rec["spark_rows"] = len(sdf)
        rec["spark_hash"] = value_hash(sdf)
        if name not in oracles:
            rec["rows_only"] = True
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"duckdb error: {e}"
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        rec["oracle_rows"] = len(odf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
        rec["rows_match"] = len(sdf) == len(odf)
        if not rec["schema_match"]:
            failures.append(name)
            print(
                f"FAIL  {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            )
            continue
        if not rec["rows_match"]:
            failures.append(name)
            print(f"FAIL  {name}: rows {len(sdf)} vs {len(odf)}")
            continue
        s, o = normalize(sdf.copy()), normalize(odf.copy())
        try:
            pd.testing.assert_frame_equal(
                s, o, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
            )
            rec["value_match"] = True
        except AssertionError as e:
            rec["value_match"] = False
            rec["err"] = f"value mismatch: {str(e)[:200]}"
        rec["hash_match"] = value_hash(sdf) == value_hash(odf)
        if not rec["hash_match"] and rec["err"] is None:
            rec["err"] = f"hash-tier mismatch: {first_cell_diff(sdf, odf)}"
        rec["secs"] = round(time.time() - t0, 2)
        if rec["value_match"] and rec["hash_match"]:
            print(f"OK    {name}: {len(s)} rows")
        else:
            failures.append(name)
            tier = "hash" if rec["value_match"] else "value"
            print(f"FAIL  {name}: {tier} mismatch: {str(rec['err'])[:250]}")
    if json_out:
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                capture_output=True,
                text=True,
                cwd=REPO,
            ).stdout.strip()
        except Exception:
            commit = None
        payload = {
            "sf_dir": sf_dir,
            "commit": commit,
            "generated_unix": int(time.time()),
            "n_entries": len(records),
            "n_failures": len(failures),
            "failures": failures,
            "entries": records,
        }
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
