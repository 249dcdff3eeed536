#!/usr/bin/env python3
"""corriespark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs them in one JVM at local[nproc]
(perfbench/harness), checks every output in DuckDB (perfbench/check.py)
and prints one JSON line: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run. It exits 1 when an
output check fails. perfbench/README.md explains the workloads and
metrics.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import zlib

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest_paced", "lanes_kernel")
CPUS = len(os.sched_getaffinity(0))

# ingest: K targets over a Zipf law
TARGETS = 6
# ingest_paced: one FILE_MSGS-message file every PERIOD_MS, a trigger
# every TRIGGER_MS, a reader with THINK_MS between reads; a batch that
# starts with more than BACKLOG_LIMIT unprocessed files means the rate
# is not sustained
FILE_MSGS = 1000
PERIOD_MS = 200
TRIGGER_MS = 3000
WARM_FILES = 30
THINK_MS = 1000
BACKLOG_LIMIT = 2 * TRIGGER_MS // PERIOD_MS + 2
# lanes_kernel: table sizes (orders rows; lineitem is 4x) and the lanes
ORDERS, DOCUMENTS, EMBEDDINGS = 15_000, 1_000, 1_000
KERNEL_LANES = ["q_sim_topk", "q_sim_ivf", "q_dedup_jaccard", "q_dedup_hamming_multiprobe",
                "q_text_ngrams", "q_dedup_lsh_pairs", "q1_agg", "q3_shipping_priority",
                "q18_large_orders"]
HARNESS_TIMEOUT_S = 160  # the whole run must end within 180 s

END_TO_END = {  # name -> unit
    "setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s",
    "latency_p90_s": "s", "read_p50_s": "s", "heap_after_gc_mb": "MB"}
STREAM_PHASES = ("walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch")
SPARK_LAYER = ("jobs", "stages", "actions", "plan_s", "codegen_compiles", "codegen_compile_s",
               "outside_job_s", "task_s", "task_busy_ratio", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "gc_s")


def per_layer_units():
    """Every per-layer metric with its unit; BENCHMARK.json lists the same."""
    u = {"stream.triggers": "count", "stream.overhead_s_p50": "s",
         "stream.backlog_files_end": "count"}
    u.update({f"stream.{p}_s_sum": "s" for p in STREAM_PHASES})
    u.update({"pipeline.sink_batch_s_p50": "s", "pipeline.sink_batch_s_p90": "s",
              "pipeline.sink_batch_calls": "count", "pipeline.rows_per_batch_p50": "count",
              "pipeline.useful_ratio": "ratio", "pipeline.sink_files": "count",
              "reader.query_s_p90": "s"})
    for m in SPARK_LAYER:
        u[f"spark.{m}"] = ("count" if m in ("jobs", "stages", "actions", "codegen_compiles")
                           else "ratio" if m == "task_busy_ratio"
                           else "MB" if m.endswith("_mb") else "s")
    u["spark.pinned_rdds_end"] = "count"
    for lane in KERNEL_LANES:
        u.update({f"lane.{lane}.s": "s", f"lane.{lane}.jobs": "count",
                  f"lane.{lane}.compiles": "count"})
    u.update({"gen.late_s_p90": "s", "trace.overhead_ratio": "ratio", "failed_ratio": "ratio"})
    return u


def p50(xs):
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs):
    return float(np.percentile(xs, 90)) if xs else 0.0


class Tally:
    """Operations attempted and failed, and the output-check failures
    that make the run incorrect."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def ops(self, n, failed=0):
        self.attempted += n
        self.failed += failed

    def wrong(self, what, ops=1):
        self.problems.append(what)
        self.failed += ops


# ------------------------------------------------------------- harness

def add_opens():
    mods = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [a for m in mods for a in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]


def run_harness(classpath, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + add_opens() +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-cp", ":".join(classpath),
            "perfbench.Harness", f"work={work}", f"out={out}", f"cpus={CPUS}"] +
           [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"harness failed ({code})")
    with open(out) as fh:
        return json.load(fh)


# -------------------------------------------------------------- ingest

def ingest_inputs(rng, work, con, corpora):
    """Targets, registry file, and each named corpus as shard files plus
    its ledger. corpora: name -> (messages, shard count, directory)."""
    targets = gen.make_targets(rng, TARGETS)
    gen.write_schemas(targets, os.path.join(work, "schemas.tsv"))
    ledgers, next_id = {}, 1
    for name, (n, shards, directory) in corpora.items():
        bodies, expected = gen.make_corpus(rng, targets, n, next_id)
        next_id += n
        gen.write_shards(bodies, directory, shards)
        exp_dir = os.path.join(work, "expected", name)
        gen.write_expected(targets, expected, exp_dir)
        ledgers[name] = check.ledger(con, targets, exp_dir, gen.TYPES)
        ledgers[name]["id_sums"] = {
            check.tag(targets[t]["query"]): int(cols["id"].sum())
            for t, cols in expected["good"].items()}
        ledgers[name]["messages"] = n
    return targets, ledgers


def _read_counts(result):
    out = {}
    for pair in filter(None, result.split(",")):
        tg, v = pair.split("=")
        n, s = v.split(":")
        out[tg] = (int(n), int(s))
    return out


def _full(led):
    return {tg: (v["rows"], led["id_sums"].get(tg, 0))
            for tg, v in led["good"].items() if v["rows"]}


def check_reads(tally, reads, led, exact):
    """Reader calls: each must succeed, and see either exactly the
    ledger's rows (a finished sink) or, on a live sink, no more rows per
    target than the ledger and never fewer than an earlier read."""
    tally.ops(len(reads), sum(1 for r in reads if not r["ok"]))
    full, seen = _full(led), {}
    for r in sorted((r for r in reads if r["ok"]), key=lambda r: r["start"]):
        got = _read_counts(r["result"])
        if exact:
            ok = got == full
        else:
            ok = all(tg in full and n <= full[tg][0] and n >= seen.get(tg, 0)
                     for tg, (n, _) in got.items())
            seen.update({tg: n for tg, (n, _) in got.items()})
        if not ok:
            tally.wrong(f"reader saw {r['result'][:120]}")


def source_log(ckpt):
    """File name -> batch id, from the checkpoint's file-source log."""
    files = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    files[os.path.basename(e["path"])] = e["batchId"]
    return files


def reads_of(ph):
    """read_p50_s from the burst of reads after the phase; the traced
    run's reader.query_s_p90 from every read of the phase."""
    def secs(rs):
        return [r["end"] - r["start"] for r in rs if r["ok"]]
    return {"read_p50_s": p50(secs(ph["burst"])),
            "_reads": secs(ph.get("reads", []) + ph["burst"])}


def paced_phase(ph, tally, con, targets, led):
    batches = sorted(ph["batches"], key=lambda b: b["id"])
    nbad = sum(1 for b in batches if not b["ok"])
    tally.ops(len(batches), nbad)
    if ph["error"] or nbad:
        tally.problems.append(f"{ph['name']}: {ph['error'][:200]}")
    bad = check.check_sink(con, ph["sink"], targets, led, gen.TYPES)
    if bad:
        tally.wrong(f"{ph['name']}: {bad[:3]}", ops=len(batches))
    check_reads(tally, ph["reads"], led, exact=False)
    check_reads(tally, ph["burst"], led, exact=True)
    # latency: from a file's due time to the return of the sinkBatch
    # call of the batch that committed it
    batch_of = source_log(ph["ckpt"])
    end_of = {b["id"]: b["end"] for b in batches if b["ok"]}
    lat, late = [], []
    for f in ph["files"]:
        late.append(f["published"] - f["due"])
        b = batch_of.get(f["file"])
        if b is None or b not in end_of:
            tally.wrong(f"{ph['name']}: file {f['file']} never committed")
        else:
            lat.append(end_of[b] - f["due"])
    # backlog at each batch's start: files published by then that no
    # earlier batch took; over the limit means the rate is not sustained
    in_batch = {}
    for f, b in batch_of.items():
        in_batch.setdefault(b, []).append(f)
    published = {f["file"]: f["published"] for f in ph["files"]}
    done = set()
    for b in batches:
        backlog = sum(1 for f, t in published.items() if t <= b["start"] and f not in done)
        if backlog > BACKLOG_LIMIT:
            tally.ops(0, 1)
        done.update(in_batch.get(b["id"], []))
    end = ph["gen_end"]
    committed = {f for b in batches if b["end"] <= end for f in in_batch.get(b["id"], [])}
    backlog_end = sum(1 for f, t in published.items() if t <= end and f not in committed)
    # the rate the pipeline sustains while busy: messages per second of
    # the scheduled files' sinkBatch calls (the offered rate is fixed)
    timed = [b for b in batches if b["ok"] and ph["files"] and b["start"] >= ph["files"][0]["due"]]
    busy = sum(b["end"] - b["start"] for b in timed)
    msgs = FILE_MSGS * sum(len(in_batch.get(b["id"], [])) for b in timed)
    return {"_good_rows": sum(v["rows"] for v in led["good"].values()),
            "throughput_per_s": msgs / busy if busy > 0 else 0.0,
            "latency_p50_s": p50(lat), "latency_p90_s": p90(lat), **reads_of(ph),
            "_sink": ph["sink"], "_batches": batches, "_late": late,
            "_backlog_end": backlog_end}


def run_paced(workload, rng, work, seconds, trace, classpath, tally):
    con = check.connect(os.path.join(work, "tmp"))
    warm = os.path.join(work, "src", "warm")
    phases = ["paced0", "paced1"] if trace else ["paced0"]
    # one more file than the schedule holds: the first one primes the query
    per_phase = int(seconds / len(phases) * 1000 / PERIOD_MS) + 1
    corpora = {p: (per_phase * FILE_MSGS, per_phase, os.path.join(work, "stage", p))
               for p in phases}
    corpora["warm"] = (WARM_FILES * FILE_MSGS, WARM_FILES, warm)
    targets, ledgers = ingest_inputs(rng, work, con, corpora)
    res = run_harness(classpath, work, {
        "workload": workload, "seconds": seconds, "trace": int(trace),
        "schemas": os.path.join(work, "schemas.tsv"), "warm_src": warm,
        "warm_files_per_trigger": WARM_FILES // 2, "period_ms": PERIOD_MS,
        "trigger_ms": TRIGGER_MS, "think_ms": THINK_MS})
    return res, [paced_phase(ph, tally, con, targets, ledgers[f"paced{i}"])
                 for i, ph in enumerate(res["phases"])]


# --------------------------------------------------------------- lanes

def run_lanes(workload, rng, work, seconds, trace, classpath, tally):
    data = os.path.join(work, "data")
    gen.make_tables(rng, data, ORDERS, DOCUMENTS, EMBEDDINGS)
    lanes = [KERNEL_LANES[i] for i in rng.permutation(len(KERNEL_LANES))]
    checked = os.path.join(work, "checked")
    res = run_harness(classpath, work, {
        "workload": workload, "seconds": seconds, "trace": int(trace), "data": data,
        "lanes": ",".join(lanes), "check": checked})
    con = check.connect(os.path.join(work, "tmp"))
    check.register_tables(con, data)
    with open(os.path.join(work, "oracle.json")) as fh:
        oracle = json.load(fh)
    wrong_lanes = set()
    tally.ops(len(lanes))
    for lane in lanes:
        err = res["setup_errors"].get(lane) or check.check_lane(
            con, os.path.join(checked, lane), oracle.get(lane))
        if err:
            wrong_lanes.add(lane)
            tally.wrong(f"{lane}: {err}")
    expected_read = ",".join(sorted(
        f"{f}={n}:{s}" for f, n, s in con.execute(
            "SELECT l_returnflag, count(*), sum(CAST(l_quantity AS DECIMAL(18,2))) "
            "FROM lineitem GROUP BY 1").fetchall()))
    out = []
    for ph in res["phases"]:
        calls = [c for p in ph["passes"] for c in p["calls"]]
        tally.ops(len(calls), sum(1 for c in calls if not c["ok"]))
        for c in calls:  # a lane whose checked result is wrong fails every call
            if c["ok"] and c["lane"] in wrong_lanes:
                tally.ops(0, 1)
        reads = ph["burst"]
        tally.ops(len(reads), sum(1 for r in reads if not r["ok"]))
        for r in reads:
            if r["ok"] and r["result"] != expected_read:
                tally.wrong(f"reader saw {r['result'][:120]} not {expected_read[:120]}")
        passes = [p["end"] - p["start"] for p in ph["passes"]]
        out.append({"throughput_per_s": len(lanes) / p50(passes),
                    "latency_p50_s": p50(passes), "latency_p90_s": p90(passes),
                    **reads_of(ph), "_calls": calls})
    return res, out


# ------------------------------------------------------------- metrics

def end_to_end(res, ph):
    vals = {"setup_s": res["bring_up_s"] + res["warmup_s"],
            "heap_after_gc_mb": res["heap_after_gc_mb"]}
    vals.update({k: ph[k] for k in ("throughput_per_s", "latency_p50_s", "latency_p90_s",
                                    "read_p50_s")})
    return vals


def layers(workload, res, plain, traced, tally):
    tr = res["phases"][1]["trace"]
    vals = {k: 0.0 for k in per_layer_units()}
    vals.update({f"spark.{m}": tr[f"spark.{m}"] for m in SPARK_LAYER})
    vals["spark.pinned_rdds_end"] = res["pinned_rdds_end"]
    vals["reader.query_s_p90"] = p90(traced["_reads"])
    prog = tr["progress"]
    if prog:
        d = [p["duration_s"] for p in prog]
        vals["stream.triggers"] = len(prog)
        vals["stream.overhead_s_p50"] = p50(
            [x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d])
        for p in STREAM_PHASES:
            vals[f"stream.{p}_s_sum"] = sum(x.get(p, 0) for x in d)
        vals["pipeline.rows_per_batch_p50"] = p50([p["rows"] for p in prog if p["rows"]])
    if workload == "ingest_paced":
        secs = [b["end"] - b["start"] for b in traced["_batches"] if b["ok"]]
        vals["pipeline.sink_batch_s_p50"] = p50(secs)
        vals["pipeline.sink_batch_s_p90"] = p90(secs)
        vals["pipeline.sink_batch_calls"] = len(secs)
        rows_in = sum(p["rows"] for p in prog)
        vals["pipeline.useful_ratio"] = traced["_good_rows"] / rows_in if rows_in else 0.0
        vals["pipeline.sink_files"] = len(glob.glob(
            os.path.join(traced["_sink"], "good", "*", "*.parquet")))
        vals["stream.backlog_files_end"] = traced.get("_backlog_end", 0)
        vals["gen.late_s_p90"] = p90(traced["_late"])
    else:
        for lane in {c["lane"] for c in traced["_calls"]}:
            cs = [c for c in traced["_calls"] if c["lane"] == lane]
            vals[f"lane.{lane}.s"] = p50([c["end"] - c["start"] for c in cs])
            vals[f"lane.{lane}.jobs"] = p50([c["jobs"] for c in cs])
            vals[f"lane.{lane}.compiles"] = p50([c["compiles"] for c in cs])
    vals["trace.overhead_ratio"] = (traced["latency_p50_s"] / plain["latency_p50_s"] - 1
                                    if plain["latency_p50_s"] else 0.0)
    vals["failed_ratio"] = tally.failed / max(tally.attempted, 1)
    return vals


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    classpath = build.build()
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # inputs depend on the seed and the workload's name only
    rng = np.random.default_rng([a.seed, zlib.crc32(a.workload.encode())])
    tally = Tally()
    try:
        runner = {"ingest_paced": run_paced, "lanes_kernel": run_lanes}[a.workload]
        res, phases = runner(a.workload, rng, work, a.seconds, bool(a.trace), classpath, tally)
        if a.trace:
            vals = layers(a.workload, res, phases[0], phases[1], tally)
            units = per_layer_units()
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(".bench_work", f"spans-{a.workload}.jsonl"))
            with open(os.path.join(".bench_work", f"self-{a.workload}.json"), "w") as fh:
                json.dump(res["phases"][1]["trace"]["self_s"], fh, indent=1)
        else:
            vals = end_to_end(res, phases[0])
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in tally.problems:
        sys.stderr.write(f"check failed: {p}\n")
    correct = not tally.problems
    print(json.dumps({"correct": correct, "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": {k: {"value": float(vals[k]), "unit": units[k]} for k in units}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
