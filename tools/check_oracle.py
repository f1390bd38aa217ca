#!/usr/bin/env python3
"""Driver-style DuckDB oracle cross-check for a graft.Verify dump.

Usage:
    python3 tools/check_oracle.py [sfDir] [verifyOutDir] [name ...]

Defaults: sfDir=/root/testdata/sf0.01, verifyOutDir=/tmp/verify_out.
Trailing names check only the oracles they select: a name selects the key
equal to it or starting with it plus "_" (`q11` selects q11_*, never
q110_*), and a name that selects no oracle is a failure. Without names
every oracle is checked, and every dump with no oracle entry gets a
rows-only check (readable parquet, > 0 rows).
Mirrors the driver's compare: for each entry in oracle_sql.json, run the
SQL in DuckDB over the sfDir parquet tables (registered by filename
stem), load the corresponding Spark parquet output, sort columns by name
and rows by all columns, and compare values exactly (floats via float64
equality, NaN == NaN). Prints one line per mismatching query and a
summary count.
"""
import duckdb, json, glob, os, sys
import pandas as pd
import numpy as np


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    wanted = sys.argv[3:]
    con = duckdb.connect()
    # register every parquet in sfDir by filename stem (table-set agnostic)
    for p in glob.glob(f"{sf}/*.parquet"):
        stem = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {stem} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    ok = n_fail = 0
    names = sorted(oracles)
    if wanted:
        def picks(w, k):
            return k == w or k.startswith(w + "_")
        for w in wanted:
            if not any(picks(w, k) for k in names):
                print(f"{w}: FAIL no oracle entry matches (NO_ORACLE query?)")
                n_fail += 1
        names = [k for k in names if any(picks(w, k) for w in wanted)]
    # dumps without an oracle entry: perform the actual rows-only check
    # (readable parquet, > 0 rows) instead of just listing them
    dumped = {d for d in os.listdir(out)
              if os.path.isdir(os.path.join(out, d))}
    for d in [] if wanted else sorted(dumped - set(oracles)):
        try:
            files = glob.glob(f"{out}/{d}/*.parquet")
            n = sum(len(pd.read_parquet(f)) for f in files) if files else -1
            if n > 0:
                print(f"{d}: NO_ORACLE rows={n} (rows-only check passed)")
            else:
                print(f"{d}: NO_ORACLE FAIL (missing or empty dump)")
                n_fail += 1
        except Exception as e:
            print(f"{d}: NO_ORACLE ERR {str(e)[:120]}")
            n_fail += 1
    for name in names:
        try:
            files = glob.glob(f"{out}/{name}/*.parquet")
            if not files:
                print(f"{name}: MISS (no Spark dump)")
                n_fail += 1
                continue
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            o = con.sql(oracles[name]).df()
            cols, ocols = sorted(spark_df.columns), sorted(o.columns)
            if cols != ocols:
                print(f"{name}: SCHEMA spark={cols} oracle={ocols}")
                n_fail += 1
                continue
            s = spark_df[cols].sort_values(cols).reset_index(drop=True)
            od = o[ocols].sort_values(ocols).reset_index(drop=True)
            if len(s) != len(od):
                print(f"{name}: ROWS spark={len(s)} oracle={len(od)}")
                n_fail += 1
                continue
            bad = False
            for c in cols:
                a, b = s[c].values, od[c].values
                # float64 equality ONLY when both sides are float dtypes;
                # coercing an int64 side to float64 would false-pass
                # >2^53 integer mismatches (hash/mask columns)
                if (np.issubdtype(s[c].dtype, np.floating)
                        and np.issubdtype(od[c].dtype, np.floating)):
                    eq = np.array_equal(a.astype("float64"), b.astype("float64"),
                                        equal_nan=True)
                else:
                    eq = (pd.Series(a).map(repr) == pd.Series(b).map(repr)).all()
                if not eq:
                    print(f"{name}: VALUES column {c}; "
                          f"spark head {a[:3]}, oracle head {b[:3]}")
                    bad = True
            if not bad:
                ok += 1
            else:
                n_fail += 1
        except Exception as e:
            print(f"{name}: ERR {str(e)[:200]}")
            n_fail += 1
    print(f"{ok}/{len(names)} fully green")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
