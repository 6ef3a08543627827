#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's parquet dumps
against the oracle SQL in DuckDB over the same testdata tables, compare
sorted-by-column-name values. Driver-side tooling only (not shipped code).

Usage: check_oracle.py <sfDir> <verifyOutDir> [names]

`names` (comma-separated exact query names, e.g. the GRAFT_VERIFY_ONLY
list Verify ran with) narrows the check to those queries; a selected name
without an oracle entry or without a dump still FAILs. Omitted or empty:
check every oracle.
"""
import json, sys, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(repr(v))
        out.append("\x01".join(vals))
    out.sort()
    return [cols[i] for i in idx], out


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_ok = n_bad = 0
    # Verify dual-keys each oracle as 'q_foo' AND 'q_foo.parquet' (the
    # driver joins on the dump filename). Locally iterate bare names only.
    oracles = {k: v for k, v in oracles.items()
               if not (k.endswith(".parquet") and k[:-8] in oracles)}
    if only:
        for name in sorted(only - oracles.keys()):
            print(f"FAIL {name}: no oracle entry")
            n_bad += 1
        oracles = {k: v for k, v in oracles.items() if k in only}
    for name, sql in sorted(oracles.items()):
        try:
            spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}.parquet/*.parquet'")
            s_cols, s_rows = canon(spark_rel.fetchall(), spark_rel.columns)
            o_rel = con.sql(sql)
            o_cols, o_rows = canon(o_rel.fetchall(), o_rel.columns)
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_bad += 1
            continue
        if s_cols != o_cols:
            print(f"FAIL {name}: columns {s_cols} vs {o_cols}")
            n_bad += 1
        elif len(s_rows) != len(o_rows):
            print(f"FAIL {name}: rowcount {len(s_rows)} vs {len(o_rows)}")
            n_bad += 1
        elif s_rows != o_rows:
            diff = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            print(f"FAIL {name}: first diff at sorted row {diff}:")
            print(f"  spark:  {s_rows[diff][:400]}")
            print(f"  oracle: {o_rows[diff][:400]}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(s_rows)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    only = set(filter(None, sys.argv[3].split(","))) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
