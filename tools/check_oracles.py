"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the same SF, compare
row count + schema + order-insensitive value hash.

Usage: python3 tools/check_oracles.py [sf_dir] [only_query ...]
Runs on local[$SPARK_GRAFT_CPUS]; unset, one slot per core in the
process's CPU affinity mask (what `nproc` prints).
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as e
    from texel_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(rows)} rows, cols={cols}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {ex}")
            failures.append(name)
            continue
        ok_count = len(rows) == len(orows)
        ok_schema = sorted(c.lower() for c in cols) == sorted(c.lower() for c in ocols)
        h_s = value_hash(rows, cols)
        h_o = value_hash(orows, ocols)
        ok_hash = h_s == h_o
        status = "OK  " if (ok_count and ok_schema and ok_hash) else "FAIL"
        print(f"{status} {name}: rows {len(rows)}/{len(orows)} schema={ok_schema} hash={'=' if ok_hash else 'DIFF'}")
        if status == "FAIL":
            failures.append(name)
            if ok_count and ok_schema and not ok_hash:
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                s_lines = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
                o_lines = sorted("|".join(canon_cell(r[i]) for i in oorder) for r in orows)
                for a, b in zip(s_lines, o_lines):
                    if a != b:
                        print(f"   spark: {a}\n   duck : {b}")
                        break
    print("\nFAILURES:", failures or "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
