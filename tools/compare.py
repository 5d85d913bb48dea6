#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness check.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Reads each query's Spark parquet output from <verifyOutDir>/<name>/,
runs the paired oracle SQL (oracle_sql.json) in DuckDB against views
over <sfDir>'s tables, sorts columns by name, and compares values
exactly. Dev tooling only — not part of the shipped engine.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    return df.reset_index(drop=True)

# Driver's hash gate operates on typed values: a DuckDB HUGEINT (int128)
# lands in pandas as `object`, hashing differently from Spark's int64 even
# when every value is equal. Group types into hash-equivalence classes and
# fail on any cross-class skew so the local replica reproduces that gate.
def type_class(t):
    t = t.upper().split("(")[0].strip()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"):
        return "int64"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t in ("VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR"):
        return "str"
    return t  # HUGEINT, DECIMAL, DATE, TIMESTAMP, BOOLEAN, LIST, ... each its own class

def described_types(con, query):
    rows = con.execute(f"DESCRIBE {query}").fetchall()
    return {r[0]: r[1] for r in rows}

def type_skew(con, name, sql, spark_glob):
    got_t = described_types(con, f"SELECT * FROM '{spark_glob}'")
    exp_t = described_types(con, sql)
    bad = []
    for c in sorted(set(got_t) & set(exp_t)):
        if type_class(got_t[c]) != type_class(exp_t[c]):
            bad.append(f"col {c}: spark {got_t[c]} vs oracle {exp_t[c]}")
    return bad

# Share of the machine's RAM DuckDB may use by default: it must fit
# beside a JVM test run on the same box.
MEM_SHARE = 0.4

def default_memory_limit():
    """MEM_SHARE of MemTotal from /proc/meminfo, as a DuckDB size."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(int(line.split()[1]) * MEM_SHARE) // 1024}MB"
    except OSError:
        pass
    return "24GB"  # no /proc: the limit used before it was sized to the box

def main(sfdir, outdir, json_out=None, sf_label=None, round_no=None, scope=None):
    results = {}
    con = duckdb.connect()
    # Memory-bounded staging: without a limit DuckDB's
    # q_markov_attribution replay at sf1 peaked 64 GB, and at sf0.1 the
    # replica peaks above 10 GB. A hard limit + disk-backed temp makes
    # the replica SPILL instead of balloon; results are unchanged. The
    # default is sized from this machine's RAM; GRAFT_ORACLE_MEM
    # overrides it.
    mem = os.environ.get("GRAFT_ORACLE_MEM") or default_memory_limit()
    tmp = os.environ.get("GRAFT_ORACLE_TMP", "/tmp/graft-duckdb-spill")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET memory_limit='{mem}'")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table (e.g. tools/ScaleUp sf1)
            p = f"{p}/*.parquet"
        if glob.glob(p) or os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    def fail(name, why):
        nonlocal n_fail
        print(f"FAIL {name}: {why}"); n_fail += 1
        results[name] = {"status": "fail", "detail": why[:500]}
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            fail(name, "no spark output"); continue
        try:
            skew = type_skew(con, name, sql, f"{outdir}/{name}/*.parquet")
            got = canon(con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df())
            exp = canon(con.execute(sql).df())
        except Exception as e:
            fail(name, str(e)); continue
        if skew:
            fail(name, f"type skew (driver hash gate): {'; '.join(skew)}"); continue
        if list(got.columns) != list(exp.columns):
            fail(name, f"columns {list(got.columns)} vs {list(exp.columns)}"); continue
        if len(got) != len(exp):
            fail(name, f"rows {len(got)} vs {len(exp)}"); continue
        ok, detail = True, ""
        for c in got.columns:
            g, e = got[c], exp[c]
            if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
                ga = g.astype(float).to_numpy(); ea = e.astype(float).to_numpy()
                same = (ga == ea) | (np.isnan(ga) & np.isnan(ea))
                if not same.all():
                    d = np.nanmax(np.abs(ga - ea))
                    ok = False; detail += f" col {c}: {int((~same).sum())} diffs max|Δ|={d:.3e};"
            else:
                gs, es = g.astype(str), e.astype(str)
                if not (gs == es).all():
                    i = int(np.argmax((gs != es).to_numpy()))
                    ok = False; detail += f" col {c}: {int((gs != es).sum())} diffs e.g. row {i}: {g.iloc[i]!r} vs {e.iloc[i]!r};"
        if ok:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
            results[name] = {"status": "pass", "rows": int(len(got))}
        else:
            fail(name, detail.strip())
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if json_out:
        art = {"sf": sf_label, "round": round_no, "n_pass": n_pass, "n_fail": n_fail,
               "queries": results}
        if scope:
            art["scope"] = scope
        with open(json_out, "w") as f:
            json.dump(art, f, indent=1, sort_keys=False)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    # args: sfdir outdir [json_out sf_label round_no [scope]]
    a = sys.argv[1:]
    if len(a) >= 5:
        sys.exit(main(a[0], a[1], a[2],
                      float(a[3]) if a[3].replace('.', '', 1).isdigit() else a[3],
                      int(a[4]), a[5] if len(a) > 5 else None))
    sys.exit(main(a[0], a[1]))
