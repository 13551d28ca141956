#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify,
then execute each oracle SQL in DuckDB over the same parquet tables
and compare (columns sorted by name, rows sorted, exact + tolerant
value compare). Usage: check.py [sfdir] [outdir] [only_query...]
[--conf=key=value...]; each --conf becomes a -Dkey=value Spark setting
of the Verify JVM, e.g. --conf=spark.sql.autoBroadcastJoinThreshold=-1
runs the graph and k-means queries on their distributed strategy."""
import glob, json, math, os, subprocess, sys

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = set(a for a in sys.argv[3:] if not a.startswith("--"))
CONFS = ["-D" + a[len("--conf="):] for a in sys.argv[3:]
         if a.startswith("--conf=")]

# the classes of the checkout this script lives in, never another one
CLASSES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "target", "scala-2.13", "classes")
CP = CLASSES + ":" + ":".join(
    glob.glob("/opt/spark/jars/*.jar"))
OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def run_verify():
    if not os.path.isdir(CLASSES):
        sys.exit(f"no compiled classes at {CLASSES}: run `sbt compile` "
                 "in this checkout first")
    # graft.Verify's session comes from GraftSession, which sets the UI
    # and time-zone settings; only explicit --conf overrides go here
    cmd = ["java"] + OPENS + ["-Xmx8g"] + CONFS + [
        "-cp", CP, "graft.Verify", SF, OUT] + sorted(ONLY)
    env = {"PATH": "/usr/bin:/bin", "SPARK_GRAFT_CPUS": "8"}
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)


def compare():
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY:
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE-ERR {e}"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{OUT}/{name}/*.parquet'").fetchdf()
        except Exception as e:
            results[name] = f"SPARK-MISSING {e}"
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            results[name] = f"COLS exp={list(exp.columns)} got={list(got.columns)}"
            continue
        if len(exp) != len(got):
            results[name] = f"ROWS exp={len(exp)} got={len(got)}"
            continue
        exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
        got = got.sort_values(list(got.columns)).reset_index(drop=True)
        mismatch = None
        for c in exp.columns:
            e, g = exp[c], got[c]
            try:
                if e.dtype.kind == "f" or g.dtype.kind == "f":
                    bad = ~((e.isna() & g.isna()) |
                            (abs(e - g) <= 1e-9 + 1e-9 * abs(e)))
                else:
                    bad = ~((e.isna() & g.isna()) | (e == g))
            except Exception:
                bad = e.astype(str) != g.astype(str)
            if bad.any():
                i = bad.idxmax()
                mismatch = f"VAL col={c} row={i} exp={e[i]!r} got={g[i]!r} (n_bad={bad.sum()})"
                break
        results[name] = mismatch or "OK"
    # queries without oracle: rows-only
    for pdir in sorted(glob.glob(f"{OUT}/q*")):
        name = pdir.split("/")[-1]
        if name not in oracle and (not ONLY or name in ONLY):
            try:
                n = con.execute(
                    f"SELECT count(*) FROM '{pdir}/*.parquet'").fetchone()[0]
                results[name] = f"ROWS-ONLY n={n}" + (" (EMPTY!)" if n == 0 else "")
            except Exception as e:
                results[name] = f"ROWS-ONLY-ERR {e}"
    ok = sum(1 for v in results.values() if v == "OK")
    for k, v in sorted(results.items()):
        flag = "  " if v == "OK" or v.startswith("ROWS-ONLY n") else "✗ "
        print(f"{flag}{k}: {v}")
    print(f"\n{ok}/{len([v for v in results.values() if not v.startswith('ROWS-ONLY')])} oracle-matched; "
          f"{len(results)} total")


if "--no-verify" not in sys.argv:
    run_verify()
compare()
