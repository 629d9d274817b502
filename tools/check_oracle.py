#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Loads each <outDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from <outDir>/oracle_sql.json in DuckDB against the raw
testdata tables, and compares: schema (column names), row count, and a
hash over all values with columns sorted by name and rows sorted.

Every non-recursive CTE runs with DuckDB's MATERIALIZED hint
(`materialized` below): results are unchanged, but without it DuckDB
inlines a CTE at every reference, and the curation oracles' CTE chains
(each CTE used by several later ones) then run out of memory at sf0.1.
"""
import sys, json, glob, os, re
import duckdb
import pandas as pd
import numpy as np

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize ints/floats for cross-engine compare
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

CTE_HEAD = re.compile(
    r"(?i)(\bWITH\s+(?:RECURSIVE\s+)?|\)\s*,\s*)"
    r"([A-Za-z_]\w*)(\s*\([\w\s,]*\))?\s+AS\s+\(")


def body_end(sql: str, open_at: int) -> int:
    """Index of the parenthesis closing the one at `open_at`, skipping
    quoted literals and identifiers."""
    depth, i = 0, open_at
    while i < len(sql):
        c = sql[i]
        if c in "'\"":
            i = sql.index(c, i + 1)
            while sql.startswith(c, i + 1):  # doubled quote escapes itself
                i = sql.index(c, i + 2)
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parentheses in oracle SQL")


def materialized(sql: str) -> str:
    """The oracle SQL with DuckDB's MATERIALIZED hint on every CTE
    whose body does not read from its own name (a recursive CTE cannot
    take the hint)."""
    out, last = [], 0
    for m in CTE_HEAD.finditer(sql):
        name, body_at = m.group(2), m.end() - 1
        body = sql[body_at:body_end(sql, body_at) + 1]
        if re.search(rf"(?i)\b(?:FROM|JOIN)\s+{re.escape(name)}\b", body):
            continue
        out.append(sql[last:body_at] + "MATERIALIZED ")
        last = body_at
    return "".join(out) + sql[last:]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            mine = pd.concat([pd.read_parquet(f) for f in sorted(files)])
            ref = con.execute(materialized(oracles[name])).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if sorted(mine.columns) != sorted(ref.columns):
            print(f"FAIL {name}: columns {sorted(mine.columns)} != {sorted(ref.columns)}")
            n_fail += 1; continue
        a, b = canon(mine), canon(ref)
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} != {len(b)}"); n_fail += 1; continue
        # the driver's hash is byte-level: -0.0 vs 0.0 differs even
        # when pandas equality passes. Compare float columns bitwise
        # (view as uint64) for the same sensitivity. (NaN vs null is
        # NOT distinguishable here: numpy float64 has no null mask, so
        # both map to the same canonical-NaN bits — as they do in any
        # pandas-float-based canonicalization.)
        bit_fail = None
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]):
                av = a[c].to_numpy(dtype="float64", na_value=np.nan)
                bv = b[c].to_numpy(dtype="float64", na_value=np.nan)
                if not np.array_equal(av.view("uint64"), bv.view("uint64")):
                    idx = np.where(av.view("uint64") != bv.view("uint64"))[0][:3]
                    bit_fail = (c, [(i, av[i], np.signbit(av[i]), bv[i], np.signbit(bv[i])) for i in idx])
                    break
            if a[c].dtype == object and len(a) and isinstance(a[c].iloc[0], np.ndarray):
                bit_fail = (c, "ARRAY COLUMN — driver canonicalizer cannot hash this; project to scalars")
                break
        if bit_fail:
            print(f"FAIL {name}: bitwise float mismatch col {bit_fail[0]}: {bit_fail[1]}")
            n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(a)} rows)"); n_pass += 1
        except AssertionError as e:
            # retry with tolerance to show whether it's FP noise or real
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9, rtol=1e-12)
                print(f"WARN {name}: exact mismatch but within 1e-9 ({len(a)} rows)")
                n_fail += 1
            except AssertionError:
                print(f"FAIL {name}: {str(e).splitlines()[-1] if str(e) else 'value mismatch'}")
                for c in a.columns:
                    if not a[c].equals(b[c]):
                        diff_idx = np.where(~(a[c].values == b[c].values))[0][:3]
                        for i in diff_idx:
                            print(f"   col {c} row {i}: spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}")
                n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
