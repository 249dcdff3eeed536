"""Output checks of the benchmark, in DuckDB, outside every timed interval.

* Ingest: a sink directory written by `Pipeline.sinkBatch` must hold
  exactly the ledger's good rows per target and dead letters per reason:
  equal counts, equal order-independent digests, no duplicate ids or
  bodies, and no partition for a target the registry does not know.
* Lanes: a lane's full result must equal its DuckDB oracle SQL, compared
  as scripts/check.py compares them (columns sorted by name, rows sorted,
  values compared by repr).
"""
import glob
import hashlib
import os

import duckdb

TAG_COL = "__graft_query"
MOD = 18446744073709551616  # digests are sums of 64-bit hashes mod 2^64
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def tag(query):
    return hashlib.md5(query.encode("utf-8")).hexdigest()


def _good_sql(src, cols):
    typed = ", ".join(f'CAST("{c}" AS {ty}) AS "{c}"' for c, ty in cols)
    hashed = ", ".join(f'"{c}"' for c, _ in cols)
    return (f"SELECT count(*), sum(hash({hashed})::HUGEINT) % {MOD}, "
            f"count(*) - count(DISTINCT id) FROM (SELECT {typed} FROM {src})")


def _dead_sql(src):
    return (f"SELECT reason, count(*), sum(hash(body, reason)::HUGEINT) % {MOD}, "
            f"count(*) - count(DISTINCT body) FROM {src} GROUP BY reason")


def ledger(con, targets, expected_dir, sql_types):
    """Digest the generator's expected rows into the ledger record."""
    good = {}
    for t, tgt in enumerate(targets):
        path = os.path.join(expected_dir, f"t{t:02d}.parquet")
        cols = [(c, sql_types[ty]) for c, ty in tgt["cols"]]
        if os.path.exists(path):
            n, digest, _ = con.execute(_good_sql(f"read_parquet('{path}')", cols)).fetchone()
        else:
            n, digest = 0, None
        good[tag(tgt["query"])] = {"rows": int(n), "digest": str(digest)}
    dead = {r: {"rows": int(n), "digest": str(d)} for r, n, d, _ in con.execute(
        _dead_sql(f"read_parquet('{os.path.join(expected_dir, 'dead.parquet')}')")).fetchall()}
    return {"good": good, "dead": dead}


def check_sink(con, sink, targets, led, sql_types):
    """Mismatches between one sink directory and the ledger (empty when
    the sink is exactly right)."""
    bad = []
    known = {tag(t["query"]): t for t in targets}
    parts = {os.path.basename(p).split("=", 1)[1]
             for p in glob.glob(os.path.join(sink, "good", f"{TAG_COL}=*"))}
    for extra in sorted(parts - set(known)):
        bad.append(f"good rows under unknown target {extra}")
    for tg, want in led["good"].items():
        files = os.path.join(sink, "good", f"{TAG_COL}={tg}", "*.parquet")
        if not glob.glob(files):
            if want["rows"]:
                bad.append(f"target {tg}: no rows, ledger has {want['rows']}")
            continue
        cols = [(c, sql_types[ty]) for c, ty in known[tg]["cols"]]
        n, digest, dups = con.execute(_good_sql(
            f"read_parquet('{files}', union_by_name=true)", cols)).fetchone()
        if int(n) != want["rows"] or str(digest) != want["digest"] or dups:
            bad.append(f"target {tg}: rows {n} vs {want['rows']}, "
                       f"digest {'ok' if str(digest) == want['digest'] else 'differs'}, dup ids {dups}")
    dead_files = glob.glob(os.path.join(sink, "failed", "*.json"))
    got = {}
    if dead_files:
        src = (f"read_json([{', '.join(repr(f) for f in dead_files)}], "
               "columns={'body': 'VARCHAR', 'reason': 'VARCHAR'}, format='newline_delimited')")
        for r, n, d, dups in con.execute(_dead_sql(src)).fetchall():
            got[r] = {"rows": int(n), "digest": str(d)}
            if dups:
                bad.append(f"dead letters {r}: {dups} duplicate bodies")
    if got != led["dead"]:
        bad.append(f"dead letters differ: {got} vs {led['dead']}")
    return bad


def register_tables(con, data):
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")


def _rows(df):
    return sorted(tuple(repr(v) for v in r) for r in df.itertuples(index=False))


def check_lane(con, out_dir, oracle_sql):
    """None when the lane's output equals its oracle, else the reason."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return "no output"
    if not oracle_sql:
        return "no oracle SQL"
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").fetchdf()
    try:
        exp = con.execute(oracle_sql).fetchdf()
    except Exception as e:  # an oracle that cannot run checks nothing
        return f"oracle error {str(e).splitlines()[0]}"
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    g, e = _rows(got), _rows(exp)
    if g != e:
        return f"rows differ ({len(g)} vs {len(e)})"
    return None
