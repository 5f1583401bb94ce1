#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir> [jsonOut]

With jsonOut, also writes per-query records in the driver's CORRECTNESS
format ({rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}) — used to produce the committed sf0.1 artifact.

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each
SQL in DuckDB against the same parquet tables, loads the corresponding
Spark result parquet, sorts columns by name and rows by value, and
compares exactly (hash-style). NOT part of the library — dev tooling only.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

def load_spark(outdir, name):
    files = sorted(glob.glob(os.path.join(outdir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a stable, engine-neutral compare (hash proxy)
    s = df.astype(str)
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    return s

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    # long sf0.1 gates run concurrently with Spark harnesses: allow
    # capping the DuckDB thread pool (default: all cores)
    t = os.environ.get("DUCKDB_THREADS")
    if t:
        con.execute(f"SET threads={int(t)}")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    # the full oracled name set graft.Verify writes beside the map: a name
    # in it with no twin in oracle_sql.json (a killed or subset dump) is a
    # failure, not rows-only. Dumps from before the file existed lack it.
    oracled = set()
    keys_path = os.path.join(out_dir, "oracle_keys.json")
    if os.path.exists(keys_path):
        with open(keys_path) as f:
            oracled = set(json.load(f))
    else:
        print(f"[warn] no oracle_keys.json in {out_dir}: "
              "a missing twin reads as rows-only")

    n_ok = n_fail = 0
    spark_dirs = [d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d))]
    records = {}
    def rec(name, rows_match=None, schema_match=None, hash_match=None,
            spark_rows=None, oracle_rows=None, err=None):
        records[name] = {"rows_match": rows_match, "schema_match": schema_match,
                         "hash_match": hash_match, "spark_rows": spark_rows,
                         "oracle_rows": oracle_rows, "err": err}
    # ORACLE_SKIP_JSON: a {query: reason} map of oracles to skip WITH an
    # explicit recorded reason (err="skipped: <reason>") — for twins whose
    # DuckDB side is known-quadratic at the target sf (e.g. the
    # dedup_canonical clusters oracle, ~100 min of DuckDB CPU at sf0.1).
    # Skipped entries stay IN the artifact so coverage is enumerable.
    skips = {}
    sk = os.environ.get("ORACLE_SKIP_JSON")
    if sk:
        with open(sk) as f:
            skips = json.load(f)
    for name in sorted(spark_dirs):
        spark_df = load_spark(out_dir, name)
        n_spark = 0 if spark_df is None else len(spark_df)
        if name in skips:
            print(f"[skip] {name}: {skips[name]}")
            rec(name, spark_rows=n_spark, err=f"skipped: {skips[name]}")
            continue
        if name not in oracles and name in oracled:
            print(f"[FAIL] {name}: oracled query missing from oracle_sql.json")
            rec(name, spark_rows=n_spark, err="oracle_sql_missing")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {n_spark} rows")
            rec(name, spark_rows=n_spark, err="no_oracle")
            continue
        # ORACLE_TIMEOUT_S: per-query DuckDB wall-clock budget. A twin that
        # exceeds it is interrupted and recorded as an explicit skip (the
        # ORACLE_SKIP_JSON discipline), not a failure — the budget exists
        # for known-quadratic oracles at large sf, not as a correctness
        # verdict. Unset = no budget.
        tmo = os.environ.get("ORACLE_TIMEOUT_S")
        timer = None
        timed_out = []
        done = []  # set the instant fetchdf returns: a timer that fires in
        # the window between fetchdf returning and the finally-cancel must
        # NOT call con.interrupt(), or the poison leaks into the NEXT
        # query on the shared connection (spurious oracle_sql FAIL).
        if tmo:
            import threading
            def _interrupt():
                if not done:
                    timed_out.append(1)
                    con.interrupt()
            timer = threading.Timer(float(tmo), _interrupt)
            timer.start()
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
            done.append(1)
        except Exception as e:
            if timer:
                timer.cancel()
            if timed_out:
                print(f"[skip] {name}: oracle exceeded {tmo}s budget")
                rec(name, spark_rows=n_spark,
                    err=f"skipped: DuckDB twin exceeded {tmo}s budget at this sf "
                        f"(quadratic/iterative oracle; hash-green at sf0.01)")
                continue
            print(f"[FAIL] {name}: oracle SQL error: {e}")
            rec(name, spark_rows=n_spark, err=f"oracle_sql: {e}")
            n_fail += 1
            continue
        finally:
            if timer:
                timer.cancel()
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"[FAIL] {name}: columns {list(a.columns)} vs {list(b.columns)}")
            rec(name, rows_match=len(a) == len(b), schema_match=False,
                hash_match=False, spark_rows=len(a), oracle_rows=len(b))
            n_fail += 1
        elif len(a) != len(b):
            print(f"[FAIL] {name}: rows {len(a)} vs {len(b)}")
            rec(name, rows_match=False, schema_match=True, hash_match=False,
                spark_rows=len(a), oracle_rows=len(b))
            n_fail += 1
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            i = diff[diff].index[0]
            print(f"[FAIL] {name}: value mismatch at canon row {i}:")
            print("  spark:", a.loc[i].to_dict())
            print("  duck :", b.loc[i].to_dict())
            rec(name, rows_match=True, schema_match=True, hash_match=False,
                spark_rows=len(a), oracle_rows=len(b))
            n_fail += 1
        else:
            print(f"[OK]   {name}: {len(a)} rows")
            rec(name, rows_match=True, schema_match=True, hash_match=True,
                spark_rows=len(a), oracle_rows=len(b))
            n_ok += 1
    missing = set(oracles) - set(spark_dirs)
    for m in sorted(missing):
        print(f"[FAIL] {m}: oracle present but no spark output")
        rec(m, err="no_spark_output")
        n_fail += 1
    print(f"\n{n_ok} ok, {n_fail} fail")
    if len(sys.argv) > 3:
        with open(sys.argv[3], "w") as f:
            json.dump(dict(sorted(records.items())), f, indent=2)
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
