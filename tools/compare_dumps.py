#!/usr/bin/env python3
"""Bit-exact comparison of two graft.Verify dumps and of their oracle maps.

Usage: python3 tools/compare_dumps.py OUT_A OUT_B [ORACLE ...]

For each query directory present in both dumps, loads all parquet parts,
sorts columns by name and rows by every column, and compares values
exactly (NaN == NaN, bytes compared as bytes). The property under test is
that no query output depends on partition count, task order, parallelism
level, or a refactor that should not change behaviour.

Then compares the two dumps' oracle_sql.json key for key, after replacing
each run's own fixture root (/tmp/graft_fixtures_<pid>, or the directory
SPARK_GRAFT_FIXTURE_ROOT named) with one placeholder. A dump's root is the
directory its oracles read the fixture subdirectories from.
Each oracle is reported as identical, whitespace-only (equal once
whitespace runs are collapsed) or changed. A trailing ORACLE name allows
the oracles it selects to change: the key equal to it or starting with it
plus `_`, as in check_oracle.py.

Exits nonzero on any output mismatch, on oracle key sets that differ, or
on a changed oracle that no ORACLE name allows.
"""
import glob, json, os, re, sys
import pandas as pd
import numpy as np


def load(outdir, q):
    files = sorted(glob.glob(f"{outdir}/{q}/*.parquet"))
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    df = df[sorted(df.columns)]
    # stable total order over all columns (bytes/lists stringified for sort)
    key = df.apply(lambda c: c.map(repr), axis=0) if len(df) else df
    order = key.sort_values(by=list(df.columns)).index if len(df) else df.index
    return df.loc[order].reset_index(drop=True)


def eq(a, b):
    if a.shape != b.shape or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        va, vb = a[c].values, b[c].values
        if va.dtype.kind == "f" and vb.dtype.kind == "f":
            if not ((va == vb) | (np.isnan(va) & np.isnan(vb))).all():
                return False
        else:
            if not all(repr(x) == repr(y) for x, y in zip(va, vb)):
                return False
    return True


# a quoted path into one of the subdirectories graft.data.Fixtures writes
FIXTURE_PATH = re.compile(r"'(/[^']*?)/(?:oracle_inputs|layouts_jsonl_\d+|warc|crawl)/")


def oracles(outdir):
    with open(f"{outdir}/oracle_sql.json") as f:
        sql = json.load(f)
    roots = {root for v in sql.values() for root in FIXTURE_PATH.findall(v)}
    if len(roots) > 1:
        sys.exit(f"{outdir}: oracles name several fixture roots: {sorted(roots)}")
    for root in roots:
        sql = {k: v.replace(root + "/", "<fixture_root>/") for k, v in sql.items()}
    return sql


def compare_oracles(out_a, out_b, allowed):
    """Prints one line per oracle; returns the number of failures."""
    a, b = oracles(out_a), oracles(out_b)
    n_bad = 0
    for k in sorted(a.keys() - b.keys()) + sorted(b.keys() - a.keys()):
        n_bad += 1
        print(f"oracle {k}: only in {out_a if k in a else out_b}")
    counts = {"identical": 0, "whitespace-only": 0, "changed": 0}
    for k in sorted(a.keys() & b.keys()):
        if a[k] == b[k]:
            kind = "identical"
        elif a[k].split() == b[k].split():
            kind = "whitespace-only"
        else:
            kind = "changed"
            if not any(k == w or k.startswith(w + "_") for w in allowed):
                n_bad += 1
                kind += " (not allowed)"
        counts[kind.split()[0]] += 1
        print(f"oracle {k}: {kind}")
    print(f"oracles: {len(a.keys() & b.keys())} common keys, " +
          ", ".join(f"{n} {kind}" for kind, n in counts.items()))
    return n_bad


def main():
    out_a, out_b, allowed = sys.argv[1], sys.argv[2], sys.argv[3:]
    qs = sorted(
        {d for d in os.listdir(out_a) if os.path.isdir(os.path.join(out_a, d))}
        & {d for d in os.listdir(out_b) if os.path.isdir(os.path.join(out_b, d))})
    n_bad = 0
    for q in qs:
        a, b = load(out_a, q), load(out_b, q)
        if eq(a, b):
            print(f"{q}: identical ({len(a)} rows)")
        else:
            n_bad += 1
            print(f"{q}: MISMATCH (rows {len(a)} vs {len(b)})")
    n_bad_oracles = compare_oracles(out_a, out_b, allowed)
    print(f"{len(qs) - n_bad}/{len(qs)} bit-identical")
    sys.exit(1 if n_bad or n_bad_oracles else 0)


if __name__ == "__main__":
    main()
