#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Usage: python3 scripts/localcheck.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB against the
parquet tables in <sfDir>, and compares: schema (column names), row count,
and values row-by-row in order (float columns with rtol=1e-9 — the driver's
hash compare is exact, so engine-identical doubles are still required there;
the tolerance here only keeps diagnostics readable). When the ordered compare
fails, a sorted-multiset compare runs too, to distinguish "wrong order" from
"wrong rows".

Every key of oracle_sql.json is checked: a query that crashed in Verify (no
output directory) is a FAIL, not a silent absence, and so is an output dir
with no oracle entry: a dumped query nothing checks must not pass.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df

def frames_equal(g: pd.DataFrame, e: pd.DataFrame) -> str | None:
    """None if equal; otherwise a human-readable mismatch description."""
    try:
        pd.testing.assert_frame_equal(
            g.reset_index(drop=True), e.reset_index(drop=True),
            check_dtype=False, check_exact=False, rtol=1e-9, atol=0)
        return None
    except AssertionError as ex:
        ordered_err = str(ex)[:400]
    # ordered compare failed — is it just ordering?
    try:
        gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
        es = e.sort_values(by=list(e.columns)).reset_index(drop=True)
        pd.testing.assert_frame_equal(gs, es, check_dtype=False,
                                      check_exact=False, rtol=1e-9, atol=0)
        return f"rows match as a multiset but NOT in order: {ordered_err}"
    except AssertionError:
        return f"value mismatch (ordered): {ordered_err}"

def main(sf_dir, out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    tables = ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    n_pass = n_fail = 0
    out_dirs = {os.path.basename(d) for d in glob.glob(os.path.join(out_dir, "*"))
                if os.path.isdir(d)}
    names = sorted(out_dirs | set(oracle))
    for name in names:
        if name not in out_dirs:
            print(f"FAIL {name}: declared oracle but no Spark output (query crashed in Verify?)")
            n_fail += 1; continue
        try:
            got = pd.read_parquet(os.path.join(out_dir, name))
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}"); n_fail += 1; continue
        if name not in oracle:
            print(f"FAIL {name}: no oracle sql: rows={len(got)}"); n_fail += 1; continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}"); n_fail += 1; continue
        g, e = canon(got), canon(exp)
        ok = True
        # The driver's hash compare renders values exactly, so an integer
        # column on one side vs a float on the other (e.g. DuckDB sum(BIGINT)
        # -> HUGEINT -> pandas float64) hash-mismatches even when the values
        # are numerically equal. Catch that class here.
        kind_diff = [c for c in g.columns if c in e.columns
                     and {g[c].dtype.kind, e[c].dtype.kind} == {"i", "f"}]
        if kind_diff:
            print(f"FAIL {name}: int-vs-float dtype mismatch in {kind_diff} "
                  f"(spark={[str(g[c].dtype) for c in kind_diff]}, "
                  f"oracle={[str(e[c].dtype) for c in kind_diff]}) — cast the "
                  f"oracle sum/window back to BIGINT"); ok = False
        elif list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}"); ok = False
        elif len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} != {len(e)}"); ok = False
        else:
            err = frames_equal(g, e)
            if err is not None:
                print(f"FAIL {name}: {err}")
                ok = False
        if ok:
            print(f"PASS {name}: rows={len(g)}")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed, {len(names)} total")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
