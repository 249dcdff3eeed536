#!/usr/bin/env python3
"""Local dev loop: mimic the driver's correctness gate.

Runs graft.Verify (already-compiled classes) on a given SF dir, then for
each query compares the Spark parquet result against the DuckDB oracle
SQL, sorting columns by name and rows by all columns, exact equality.

Usage: python3 scripts/check.py [sfdir] [lane_prefix ...]

With prefixes, Verify runs only the matching lanes and only those are
compared; a selected lane with an oracle but no fresh output still fails.
"""
import json, os, subprocess, sys, glob

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = sys.argv[2:]
# Per-process output dir: concurrent check.py runs sharing one dir
# rmtree each other mid-run — the r11 phantom-failure class ("produced
# no output" / cross-contaminated parquet for queries that are green).
OUT = f"/tmp/verify_out_{os.getpid()}"

ADD_OPENS = []
for p in ["java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", p + "=ALL-UNNAMED"]

def run_verify():
    import shutil
    if os.path.isdir(OUT):  # stale dirs would mask crashed queries
        shutil.rmtree(OUT)
    classes = os.path.join(REPO, "target/scala-2.13/classes")
    cp = classes + ":" + "/opt/spark/jars/*"
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx8g", "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.Verify", SF, OUT] + ONLY)
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, env=env, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print(r.stdout[-3000:])
        print(r.stderr[-3000:])
        sys.exit("verify run failed")

def compare():
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    n_pass = n_fail = 0
    dirs = set(d for d in os.listdir(OUT)
               if os.path.isdir(os.path.join(OUT, d)))
    for name in sorted(dirs | set(oracle)):
        if ONLY and not name.startswith(tuple(ONLY)):
            continue
        if name not in dirs:
            print(f"FAIL {name}: query produced no output (crashed?)")
            n_fail += 1
            continue
        files = glob.glob(f"{OUT}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        got = con.execute(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").fetchdf()
        if name not in oracle:
            print(f"okNA {name}: rows={len(got)} (no oracle)"); n_pass += 1
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {str(e).splitlines()[0]}"); n_fail += 1
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
            n_fail += 1; continue
        def rows(df):
            out = [tuple(repr(v) for v in r) for r in df.itertuples(index=False)]
            return sorted(out)
        gt, et = rows(got), rows(exp)
        if gt == et:
            print(f"ok   {name}: rows={len(gt)}"); n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: rows {len(gt)} vs {len(et)}")
            diffs = [(a, b) for a, b in zip(gt, et) if a != b][:3]
            for a, b in diffs:
                print(f"   spark: {a}\n   duck : {b}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return n_fail

if __name__ == "__main__":
    run_verify()
    failed = compare()
    if not failed:  # keep artifacts only for failure debugging
        import shutil
        shutil.rmtree(OUT, ignore_errors=True)
    sys.exit(1 if failed else 0)
