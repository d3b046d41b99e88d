"""Synthesize a 10x-scale fixture (sf~1) from sf0.1 by key-offset
replication, for scale-stress runs (see SCALING.md's 10x section).

Replicas get disjoint key ranges (orderkey/custkey/suppkey/event_id offset
by replica * (max+1)) so uniqueness-sensitive plans (joins, windows,
dedup-by-key) see realistic cardinalities, and events timestamps shift by
replica*31 days so per-day densities stay constant while the covered range
grows — the same way a real deployment grows. Dimension tables
(nation/region/part) stay constant, as they would at any scale.

documents/embeddings are NOT replicated: naive text copies would be exact/
near duplicates of each other and turn the dedup benchmarks into a planted
quadratic blow-up that no real corpus has; the text/dedup scale story is
covered by design notes + the banded/bucketed plans (SCALING.md).

Usage: python tools/make_big_sf.py [src_sf_dir] [dst_dir] [factor]
"""

from __future__ import annotations

import os
import sys

import duckdb


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfbig"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    def gen(table: str, sql: str) -> None:
        out = f"{dst}/{table}.parquet"
        con.execute(
            f"COPY ({sql}) TO '{out}' (FORMAT parquet)"
        )
        n = con.execute(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
        print(f"{table}: {n} rows")

    t = {name: f"'{src}/{name}.parquet'" for name in
         ("lineitem", "orders", "customer", "supplier", "events", "nation", "region", "part")}

    con.execute(f"CREATE VIEW r AS SELECT UNNEST(range({factor})) AS i")
    ok = con.execute(f"SELECT MAX(o_orderkey)+1 FROM {t['orders']}").fetchone()[0]
    ck = con.execute(f"SELECT MAX(c_custkey)+1 FROM {t['customer']}").fetchone()[0]
    sk = con.execute(f"SELECT MAX(s_suppkey)+1 FROM {t['supplier']}").fetchone()[0]
    ek = con.execute(f"SELECT MAX(event_id)+1 FROM {t['events']}").fetchone()[0]
    uk = con.execute(f"SELECT MAX(user_id)+1 FROM {t['events']}").fetchone()[0]

    gen("lineitem", f"""
        SELECT l_orderkey + i*{ok} AS l_orderkey, l_partkey,
               l_suppkey + i*{sk} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM {t['lineitem']}, r""")
    gen("orders", f"""
        SELECT o_orderkey + i*{ok} AS o_orderkey, o_custkey + i*{ck} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM {t['orders']}, r""")
    gen("customer", f"""
        SELECT c_custkey + i*{ck} AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM {t['customer']}, r""")
    gen("supplier", f"""
        SELECT s_suppkey + i*{sk} AS s_suppkey, s_name, s_nationkey, s_acctbal
        FROM {t['supplier']}, r""")
    gen("events", f"""
        SELECT event_id + i*{ek} AS event_id,
               ts + INTERVAL 31 DAY * i AS ts,
               user_id + i*{uk} AS user_id,
               event_type, "value", props
        FROM {t['events']}, r""")
    for dim in ("nation", "region", "part"):
        gen(dim, f"SELECT * FROM {t[dim]}")


if __name__ == "__main__":
    main()
