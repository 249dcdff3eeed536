"""Seeded input generators of the benchmark.

Everything here is a pure function of a numpy Generator, so one
`--seed` gives the same inputs on every machine. The program under test
sees only the files written here.

* Message corpora in corrie's wire format (`{"Query": ..., "Data": [...]}`,
  one JSON message per line, spread over shard files), with an
  expected-result ledger: good rows per target, dead letters per reason,
  and order-independent content digests of both (see check.py).
* The parquet tables the lanes read, in the layout of the repository's
  test data (`Tables.names`), at a size chosen by the caller.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# target column types, with the SQL type the pipeline's cast ladder uses
TYPES = {"long": "BIGINT", "int": "INT", "double": "DOUBLE",
         "string": "STRING", "timestamp": "TIMESTAMP", "boolean": "BOOLEAN"}
ARROW = {"long": pa.int64(), "int": pa.int32(), "double": pa.float64(),
         "string": pa.string(), "timestamp": pa.timestamp("us"), "boolean": pa.bool_()}
DEAD_SHARES = {"decode_error": 0.010, "unknown_query": 0.015, "cast_error": 0.025}
ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
TS0 = np.datetime64("2020-01-01T00:00:00", "s")


def make_targets(rng, k):
    """K INSERT targets of equal width: `id BIGINT` plus five columns
    whose types rotate through the six types, in a seeded order. Every
    seed gets the same mix of types, so per-message work does not depend
    on which target the Zipf law favours. A column's name carries its
    type, so targets that share a name share its type (the sink merges
    targets by column name)."""
    kinds = list(TYPES)
    out = []
    for t in range(k):
        types = [kinds[(t + j) % len(kinds)] for j in rng.permutation(5)]
        cols = [("id", "long")] + [(f"{ty}_{j + 1}", ty) for j, ty in enumerate(types)]
        names = ", ".join(c for c, _ in cols)
        marks = ", ".join("?" for _ in cols)
        out.append({"query": f"INSERT INTO bench.t{t:02d} ({names}) VALUES ({marks});",
                    "cols": cols})
    return out


def write_schemas(targets, path):
    """Registry file the harness hands to `Pipeline.sinkBatch`:
    `<query>\\t<DDL>` per line."""
    with open(path, "w") as fh:
        for t in targets:
            ddl = ", ".join(f"`{c}` {TYPES[ty]}" for c, ty in t["cols"])
            fh.write(f"{t['query']}\t{ddl}\n")


def _values(rng, ty, n):
    """n random values of one type: (typed numpy array, wire strings)."""
    if ty == "long":
        v = rng.integers(-10**12, 10**12, size=n)
        return v, v.astype(str)
    if ty == "int":
        v = rng.integers(-2**31, 2**31 - 1, size=n).astype(np.int32)
        return v, v.astype(str)
    if ty == "double":
        s = np.char.mod("%.4f", rng.integers(-10**10, 10**10, size=n) / 1e4)
        return s.astype(np.float64), s
    if ty == "string":
        lens = rng.integers(3, 13, size=n)
        chars = ALNUM[rng.integers(0, len(ALNUM), size=(n, 12))]
        s = np.array(["".join(r[:m]) for r, m in zip(chars, lens)], dtype=object)
        return s, s
    if ty == "timestamp":
        v = TS0 + rng.integers(0, 5 * 365 * 86400, size=n).astype("timedelta64[s]")
        return v.astype("datetime64[us]"), np.char.replace(v.astype(str), "T", " ")
    if ty == "boolean":
        v = rng.integers(0, 2, size=n).astype(bool)
        return v, np.where(v, "true", "false")
    raise ValueError(ty)


def _body(query, cells):
    return '{"Query":"%s","Data":[%s]}' % (query, ",".join('"%s"' % c for c in cells))


def make_corpus(rng, targets, n, id_base, zipf_s=1.2):
    """n messages with ids id_base.. : a fixed share of each dead-letter
    class at seeded positions, the rest good rows whose target follows a
    Zipf law over the K targets. Returns (bodies in id order, expected)
    where expected holds the typed good rows per target and the dead
    letters per reason."""
    kinds = np.zeros(n, dtype=np.int8)  # 0 good, 1 decode, 2 unknown, 3 cast
    pos = rng.permutation(n)
    at = 0
    for code, share in enumerate(DEAD_SHARES.values(), start=1):
        m = int(round(share * n))
        kinds[pos[at:at + m]] = code
        at += m
    k = len(targets)
    p = 1.0 / np.arange(1, k + 1) ** zipf_s
    which = rng.choice(k, size=n, p=p / p.sum())
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    bodies = np.empty(n, dtype=object)
    good = {}
    dead = []
    for t, tgt in enumerate(targets):
        sel = np.nonzero((which == t) & ((kinds == 0) | (kinds == 3) | (kinds == 1)))[0]
        if len(sel) == 0:
            continue
        typed = {"id": ids[sel]}
        wire = [ids[sel].astype(str)]
        for c, ty in tgt["cols"][1:]:
            typed[c], w = _values(rng, ty, len(sel))
            wire.append(w.astype(object))
        rows = list(zip(*wire))
        non_string = [j for j, (_, ty) in enumerate(tgt["cols"]) if ty != "string"]
        keep = []
        for r, i in enumerate(sel):
            cells = list(rows[r])
            kind = kinds[i]
            if kind == 3:
                if rng.random() < 0.5:
                    cells = cells[:-1]          # a missing cell
                else:                           # a cell its type cannot hold
                    j = non_string[int(rng.integers(0, len(non_string)))]
                    cells[j] = "x" + cells[0]
                bodies[i] = _body(tgt["query"], cells)
                dead.append((bodies[i], "cast_error"))
            elif kind == 1:                     # cut short inside Data
                bodies[i] = '{"Query":"%s","Data":["%s",' % (tgt["query"], cells[0])
                dead.append((bodies[i], "decode_error"))
            else:
                bodies[i] = _body(tgt["query"], cells)
                keep.append(r)
        keep = np.array(keep, dtype=np.int64)
        good[t] = {c: v[keep] for c, v in typed.items()}
    for i in np.nonzero(kinds == 2)[0]:
        bodies[i] = _body(f"INSERT INTO bench.unknown_{i % 7} (id) VALUES (?);", [str(ids[i])])
        dead.append((bodies[i], "unknown_query"))
    return bodies, {"good": good, "dead": dead}


def write_shards(bodies, directory, shards):
    """Spread messages over `shards` files, round-robin by id."""
    os.makedirs(directory, exist_ok=True)
    for j in range(shards):
        with open(os.path.join(directory, f"part-{j:05d}.txt"), "w") as fh:
            fh.write("\n".join(bodies[j::shards]) + "\n")


def write_expected(targets, expected, directory):
    """The ledger's row-level half: typed good rows per target and the
    dead letters, as parquet, for check.py to digest."""
    os.makedirs(directory, exist_ok=True)
    for t, cols in expected["good"].items():
        schema = pa.schema([(c, ARROW[ty]) for c, ty in targets[t]["cols"]])
        table = pa.table({c: pa.array(cols[c], type=schema.field(c).type) for c in schema.names},
                         schema=schema)
        pq.write_table(table, os.path.join(directory, f"t{t:02d}.parquet"))
    bodies, reasons = zip(*expected["dead"]) if expected["dead"] else ((), ())
    pq.write_table(pa.table({"body": pa.array(bodies, pa.string()),
                             "reason": pa.array(reasons, pa.string())}),
                   os.path.join(directory, "dead.parquet"))


# ---------------------------------------------------------------- tables

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold", "green", "big", "tiny", "dark", "light"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
PTYPE = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]


def _write(directory, name, cols):
    pq.write_table(pa.table(cols), os.path.join(directory, f"{name}.parquet"))


def _days(rng, start, span, n):
    return (np.datetime64(start, "D") + rng.integers(0, span, size=n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def make_tables(rng, directory, orders, documents, embeddings):
    """TPC-H-like star schema plus events, documents and embeddings, with
    the columns, types and value ranges of the repository's test data.
    Row counts follow `orders` (lineitem = 4x, customer = orders/10,
    part = orders/7.5, supplier = orders/150, events = orders*2/3)."""
    os.makedirs(directory, exist_ok=True)
    n_cust, n_part, n_supp = orders // 10, int(orders / 7.5), max(orders // 150, 10)
    n_line, n_events = orders * 4, orders * 2 // 3
    _write(directory, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(directory, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(directory, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(directory, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(directory, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPE)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(directory, "orders", {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, orders), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, orders),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, orders)]})
    _write(directory, "lineitem", {
        "l_orderkey": rng.integers(0, orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    _write(directory, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_events * 3 // 200, 1), n_events),
        "event_type": np.array(EVENT)[rng.integers(0, 5, n_events)],
        "value": np.maximum(np.round(rng.exponential(50, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(m))])
             for m in rng.integers(10, 100, documents)]
    # 5% near-duplicates: another document, cut at a character offset,
    # with a marker word appended
    for i in rng.choice(documents, size=documents // 20, replace=False):
        src = texts[int(rng.integers(0, documents))]
        texts[i] = src[int(rng.integers(0, 6)):] + " dup" * int(rng.integers(1, 3))
    _write(directory, "documents", {
        "doc_id": np.arange(documents, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, documents, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((embeddings, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(directory, "embeddings", {
        "vec_id": np.arange(embeddings, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, embeddings).astype(np.int32)})
