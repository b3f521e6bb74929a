#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each query's parquet
dump against its DuckDB oracle (columns sorted by name, values hashed).

Driver-faithful read paths matter: the SPARK side is read with pandas
(pyarrow) and the ORACLE side comes back through DuckDB's .df() — exactly
like the driver. An earlier version read BOTH sides through DuckDB, which
normalized DECIMAL columns to float64 on both and MISSED q69's real
mismatch (pandas surfaces parquet DECIMAL as decimal.Decimal, stringifying
'901.00' where the oracle's float64 gives '901.0')."""
import duckdb, json, sys, glob, os, hashlib, shutil, atexit
import pandas as pd

out = sys.argv[1] if len(sys.argv) > 1 else "target/verify_out"
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

# DuckDB spills to a temp directory with no size limit by default, so one
# large oracle (q134's triangle count at sf0.1) can fill the disk. Spill
# under the output dir instead, capped at 4 GiB or half the free space,
# and remove it at exit. An oracle that hits the cap is UNCHECKED, not OK.
tmp = os.path.join(out, ".duckdb_tmp")
cap = min(4 << 30, shutil.disk_usage(out).free // 2)
con = duckdb.connect()
con.execute(f"SET temp_directory = '{tmp}'")
con.execute(f"SET max_temp_directory_size = '{cap >> 20}MiB'")
atexit.register(lambda: (con.close(), shutil.rmtree(tmp, ignore_errors=True)))
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
def canon(df):
    # Null spelling differs by read path (pandas boolean-null → None,
    # DuckDB .df() → NaN) and the real driver compares q27's null booleans
    # green (CORRECTNESS_r03), so normalize TRUE nulls (pd.isna per cell,
    # BEFORE stringification) to one token; a data value that happens to be
    # the string 'nan'/'None' stays verbatim and would still flag a genuine
    # engine mismatch. Everything else (decimal trailing zeros etc.) stays
    # verbatim too.
    df = df[sorted(df.columns)]
    s = df.astype(str).mask(df.isna(), "NULL")
    rows = sorted(s.values.tolist())
    return len(df), sorted(df.columns), hashlib.md5(str(rows).encode()).hexdigest()

fails, unchecked = [], []
names = sorted(d for d in os.listdir(out) if d.startswith("q"))
for name in names:
    if only and name not in only: continue
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        fails.append((name, "no spark output")); continue
    sp = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
    if name not in oracle:
        print(f"{name}: rows={sp[0]} (no oracle)"); continue
    try:
        du = canon(con.sql(oracle[name]).df())
    except duckdb.OutOfMemoryException as e:
        unchecked.append((name, str(e).splitlines()[0]))
        print(f"{name}: UNCHECKED (oracle resource) rows={sp[0]}"); continue
    except Exception as e:
        fails.append((name, f"oracle error: {e}")); continue
    ok = sp == du
    if not ok:
        detail = f"rows {sp[0]} vs {du[0]}; cols {sp[1]} vs {du[1]}; hash {'=' if sp[2]==du[2] else '!='}"
        fails.append((name, detail))
    print(f"{name}: {'OK' if ok else 'MISMATCH'} rows={sp[0]}")
for name, why in fails:
    print(f"FAIL {name}: {why}", file=sys.stderr)
for name, why in unchecked:
    print(f"UNCHECKED {name}: {why}", file=sys.stderr)
print(f"\n{len(fails)} failures, {len(unchecked)} unchecked", file=sys.stderr)
