#!/usr/bin/env python3
"""Benchmark of the graft Spark library, driven from outside through its
public entry points.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # every workload briefly at sf0.001

Run from the root of a checkout. The first run compiles the library and
the harness (perfbench/build.sbt) and keeps a copy of the classes; later
runs reuse it while the sources are unchanged. Each run regenerates its
inputs from the seed under perfbench/.work/run, starts one JVM with a
local[nproc] session, times a closed loop with one client (whole decks,
cycles or passes until S seconds have passed, and at least a
workload-given number of them), checks every output and prints one JSON
line last: end-to-end metrics with --trace 0, or with --trace 1 the
per-layer metrics of a second loop that traces every other operation.

Workloads (why each exists is in BENCHMARK.json):
- interval_reads: decks of short index-pruned queries over sf0.1
  lineitem/orders; each (count, sum) is checked against DuckDB.
- table_commits: cycles of MoR upserts, deletes and appends, DV
  application and compaction on a versioned sf0.1 orders table, each
  commit followed by a snapshot read checked against a model, with a
  change feed started and caught up once per cycle and checked too.
- curation_scale: passes of six dedup/kNN/pipeline/graph queries; every
  timed pass's outputs are checked against the registered DuckDB oracles.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import metrics as m

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the compiled classes of the last build, and the JVM's class-data
# archives made with them
CLASSES = os.path.join(WORK, "classes")
WORKLOADS = ("interval_reads", "table_commits", "curation_scale")
TPCH_SF = 0.1
# Curation inputs are a quarter of sf0.1, where one pass takes ~15 s on
# 4 cores; at the ROADMAP's sf1 (10x sf0.1) a pass takes minutes, beyond
# what one run of this benchmark may take.
CURATION_SF = 0.025
CURATION_CONTENT_SEED = 7
# the curation warm-up runs the same pass on these small inputs
WARM_SF = 0.001
SETUP_REPS = 3
COMMIT_KINDS = ("merge_mor", "delete_mor", "append", "apply_deletes", "compact")
PIPELINES = ("dedup_near", "dedup_ppjoin", "knn", "knn_pq_trained", "pipeline_e2e")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "ops_per_s": "1/s", "live_heap_mb": "MiB"}
PER_LAYER = {
    "plans.analysis_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.share": "ratio",
    "sources.read_call_s": "s", "sources.files_listed": "count",
    "sources.files_read": "count", "sources.prune_ratio": "ratio",
    "sources.bytes_read": "bytes", "sources.rows_read": "count",
    "sources.rows_per_result": "ratio",
    **{f"sources.commit_s.{k}": "s" for k in COMMIT_KINDS},
    "sources.snapshot_read_p50_s": "s",
    "sources.files_created": "count", "sources.bytes_created": "bytes",
    "sources.write_amp": "ratio", "sources.live_files_end": "count",
    "sources.log_files_end": "count", "sources.mor_rows_masked": "count",
    "streaming.follow_s": "s", "streaming.follow_rows": "count",
    **{f"llm.{p}_s": "s" for p in PIPELINES},
    "llm.lsh_candidates": "count", "llm.candidate_yield": "ratio",
    "operators.graph_pagerank_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_s": "s", "spark.driver_share": "ratio",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.sched_delay_s": "s", "spark.gc_s": "s", "spark.core_busy": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem": "bytes",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256(HERE.encode())  # the classpath names this checkout
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (ROOT, HERE):
        proj = os.path.join(top, "project")
        if os.path.isdir(proj):
            files += sorted(os.path.join(proj, f) for f in os.listdir(proj)
                            if os.path.isfile(os.path.join(proj, f)))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness unless the sources are the
    ones last built; returns the source digest and the classpath.

    The compiled classes are copied under .work, so that a later
    compile in the checkout's own target directories cannot change
    what a reused build runs."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no library build next to perfbench/: run from a full checkout")
    digest = source_digest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built = json.load(fh)
        if built["digest"] == digest:
            return digest, built["classpath"]
    log("compiling library + harness (sbt)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false",
                        "export Runtime / fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    entries = []
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.abspath(e).startswith(ROOT + os.sep):
            # jars, not directories: the class-data archive takes only jars
            copy = os.path.join(CLASSES, f"{i}.jar")
            if os.path.isdir(e):
                shutil.make_archive(copy[:-4], "zip", e)
                os.rename(copy[:-4] + ".zip", copy)
            else:
                shutil.copy(e, copy)
            e = copy
        entries.append(e)
    classpath = os.pathsep.join(entries)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return digest, classpath


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------------ run

def generate(workload, data, seed, sf):
    import gen
    t = time.perf_counter()
    if workload == "curation_scale":
        gen.write_curation(data, sf, CURATION_CONTENT_SEED, seed)
        gen.write_curation(os.path.join(data, "warm"), WARM_SF,
                           CURATION_CONTENT_SEED + 100, seed)
    else:
        gen.write_tpch(data, sf, seed)
    return time.perf_counter() - t


def jvm(classpath, workload, run_dir, data, seconds, trace, seed, reps):
    out = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # The first run after a build records the classes its JVM loads;
    # later runs map them from that archive instead of loading and
    # verifying them again (a JVM start-up cost, not the program's).
    cds = os.path.join(CLASSES, "jvm.jsa")
    share = "SharedArchiveFile" if os.path.exists(cds) else "ArchiveClassesAtExit"
    cmd = ["java", f"-XX:{share}={cds}", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", workload, "--data", data, "--work", run_dir,
            "--seconds", str(seconds), "--trace", str(trace),
            "--seed", str(seed), "--reps", str(reps), "--out", out]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        r = subprocess.run(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {r.returncode}")
    with open(out) as fh:
        return json.load(fh)


# ---------------------------------------------------------- correctness

def duck(data, tables):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        p = os.path.join(data, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_intervals(rec, data):
    """Marks every query whose (count, sum) differs from DuckDB's."""
    from decimal import Decimal
    con = duck(data, ("lineitem", "orders"))
    cols = {"lineitem": ("l_shipdate", "l_extendedprice"),
            "orders": ("o_orderkey", "o_totalprice")}
    for op in rec["ops"]:
        d = op["detail"]
        if not op["ok"] or "table" not in d:
            continue
        key, val = cols[d["table"]]
        if d["pred"] == "date_ranges":
            where = " OR ".join(f"({key} BETWEEN make_timestamp({a}) AND make_timestamp({b}))"
                                for a, b in d["args"])
        elif d["pred"] == "key_ranges":
            where = " OR ".join(f"({key} BETWEEN {a} AND {b})" for a, b in d["args"])
        elif d["pred"] == "orderkeys":
            where = "l_orderkey IN (%s)" % ",".join(map(str, d["args"]))
        else:
            where = f"l_quantity <= {d['args']}"
        n, s = con.execute(f"SELECT count(*), sum(CAST({val} AS DECIMAL(18,2))) "
                           f"FROM {d['table']} WHERE {where}").fetchone()
        got = (d["count"], Decimal(d["sum"]) if d["sum"] is not None else None)
        if got != (n, s):
            op["ok"] = False
            op["error"] = f"spark {got} duckdb {(n, s)}"


def canon_digest(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(repr(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256(repr(([cols[i] for i in order], rows)).encode())
    return h.hexdigest(), len(rows)


def check_curation(rec, data, run_dir, sf):
    """Digest of each pass's output of each pipeline against its DuckDB
    oracle; returns the (pass number, pipeline) pairs that differ. The
    oracle digest depends only on the input content, which no seed
    changes, so it is cached across runs: computing the six of them
    takes about as long as a timed pass (~16 s on 4 cores), which the
    benchmark's time budget per run does not leave room for."""
    con = duck(data, ("lineitem", "documents", "embeddings"))
    cache_path = os.path.join(WORK, "oracle_cache.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        gen_hash = hashlib.sha256(fh.read()).hexdigest()
    bad, digests, rows = [], {}, {}
    for name, sql in sorted(rec["extra"]["oracle_sql"].items()):
        key = hashlib.sha256(f"{gen_hash}|{sf}|{CURATION_CONTENT_SEED}|{sql}"
                             .encode()).hexdigest()
        if key not in cache:
            cache[key] = canon_digest(con, sql)[0]
        for out in glob.glob(os.path.join(run_dir, "outputs", "*", name)):
            got, n = canon_digest(con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
            digests[name], rows[name] = got, n
            if got != cache[key]:
                bad.append((int(os.path.basename(os.path.dirname(out))), name))
    with open(cache_path, "w") as fh:
        json.dump(cache, fh)
    return bad, digests, rows


# -------------------------------------------------------------- metrics

def ops_of(rec, phase):
    return [o for o in rec["ops"] if o["detail"].get("phase") == phase]


def timed(rec, ops):
    """The operations whose latency is the workload's headline."""
    if rec["workload"] == "table_commits":
        return [o for o in ops if o["kind"] in COMMIT_KINDS]
    return ops


def end_to_end(rec):
    loop = ops_of(rec, "loop")
    lat = [o["t1"] - o["t0"] for o in timed(rec, loop) if o["ok"]]
    busy = sum(o["t1"] - o["t0"] for o in loop)
    p, tail = m.tail(lat)
    info = {"tail_percentile": p, "samples": len(lat)}
    setup = (rec["session_s"] + m.median(rec["setup_reps_s"])
             + rec["extra"]["warmup_s"])
    vals = {"setup_s": setup,
            "op_p50_s": m.median(lat), "op_tail_s": tail,
            "ops_per_s": len(lat) / busy if busy else 0.0,
            "live_heap_mb": rec["live_heap_mb"]}
    return vals, info


def per_layer(rec):
    # the traced loop traces every other operation of each kind
    ops = [o for o in ops_of(rec, "traced") if o["detail"]["traced"]]
    by_id = {o["id"]: o for o in ops}
    wall = {i: o["t1"] - o["t0"] for i, o in by_id.items()}
    total = sum(wall.values()) or 1.0
    n = len(ops) or 1
    out = dict.fromkeys(PER_LAYER, 0.0)

    def owner(t):
        for o in ops:
            if o["t0"] <= t <= o["t1"]:
                return o["id"]
        return None

    # planning phases of every query action, attributed by start time
    # (listener times have millisecond resolution)
    names = {"analysis": "plans.analysis_s", "optimization": "plans.optimize_s",
             "planning": "plans.physical_s"}
    for ph in rec["plan_phases"]:
        if ph["phase"] in names and owner(ph["t0"]) is not None:
            out[names[ph["phase"]]] += (ph["t1"] - ph["t0"]) / n
    out["plans.share"] = sum(out[k] for k in names.values()) * n / total

    spans = [s for s in rec["spans"] if s["op"] in by_id]
    out["sources.read_call_s"] = sum(s["t1"] - s["t0"] for s in spans
                                     if s["name"] == "sources.read_call") / n
    q = [o["detail"] for o in ops if "files_read" in o["detail"]]
    if q:
        listed = sum(d["files_listed"] for d in q)
        read = sum(d["files_read"] for d in q)
        rows = sum(d["rows_read"] for d in q)
        kept = sum(d["count"] for d in q)
        out["sources.files_listed"] = listed / len(q)
        out["sources.files_read"] = read / len(q)
        out["sources.prune_ratio"] = 1 - read / listed
        out["sources.rows_read"] = rows / len(q)
        out["sources.rows_per_result"] = rows / kept if kept else 0.0

    for k in COMMIT_KINDS:
        out[f"sources.commit_s.{k}"] = m.median([wall[o["id"]] for o in ops if o["kind"] == k])
    out["sources.snapshot_read_p50_s"] = m.median(
        [wall[o["id"]] for o in ops if o["kind"] == "snapshot_read"])
    x = rec["extra"]
    if "bytes_created" in x:
        out["sources.files_created"] = x["files_created"]
        out["sources.bytes_created"] = x["bytes_created"]
        out["sources.write_amp"] = m.write_amp(x["bytes_created"], x["plain_bytes"])
        # the table as the last traced cycle left it before compacting
        out["sources.live_files_end"] = x["live_files"]
        out["sources.log_files_end"] = x["log_files"]
        out["sources.mor_rows_masked"] = x["mor_rows_masked"]
    follows = [o for o in ops if o["kind"] == "follow"]
    out["streaming.follow_s"] = m.median([wall[o["id"]] for o in follows])
    out["streaming.follow_rows"] = sum(o["detail"].get("rows", 0) for o in follows)

    for p in PIPELINES:
        out[f"llm.{p}_s"] = m.median([s["t1"] - s["t0"] for s in spans if s["name"] == f"llm.{p}"])
    out["operators.graph_pagerank_s"] = m.median(
        [s["t1"] - s["t0"] for s in spans if s["name"] == "operators.graph_pagerank"])
    if "lsh_candidates" in x:
        out["llm.lsh_candidates"] = x["lsh_candidates"]
        pairs = x.get("verified_pairs", 0)
        out["llm.candidate_yield"] = pairs / x["lsh_candidates"] if x["lsh_candidates"] else 0.0

    # scheduler work: a job belongs to the op named by its job group, or
    # (stream and listener threads carry no group) to the op running
    # when it started
    jobs_of = {i: [] for i in by_id}
    for j in rec["jobs"]:
        g = j["group"]
        i = int(g[3:]) if g.startswith("op-") else owner(j["t0"])
        if i in jobs_of:
            jobs_of[i].append(j)
    js = [j for v in jobs_of.values() for j in v]
    out["spark.jobs"] = len(js) / n
    out["spark.stages"] = sum(j["stages"] for j in js) / n
    out["spark.tasks"] = sum(j["tasks"] for j in js) / n
    driver = sum(m.self_time((by_id[i]["t0"], by_id[i]["t1"]),
                             [(j["t0"], j["t1"]) for j in v])
                 for i, v in jobs_of.items())
    out["spark.driver_s"] = driver / n
    out["spark.driver_share"] = driver / total
    for k, key in (("task_run_s", "run_s"), ("task_cpu_s", "cpu_s"),
                   ("sched_delay_s", "sched_s"), ("gc_s", "gc_s"),
                   ("shuffle_write_bytes", "shuffle_write_bytes"),
                   ("shuffle_read_bytes", "shuffle_read_bytes"),
                   ("spill_bytes", "spill_bytes")):
        out[f"spark.{k}"] = sum(j[key] for j in js) / n
    if q:
        out["sources.bytes_read"] = sum(j["bytes_read"] for j in js) / n
    out["spark.peak_exec_mem"] = max([j["peak_exec_mem"] for j in js], default=0)
    out["spark.core_busy"] = sum(j["run_s"] for j in js) / (total * rec["machine"]["nproc"])

    # each traced op against the untraced ops of its kind around it in
    # the same loop
    seq = [(o["kind"], o["t1"] - o["t0"], o["detail"]["traced"])
           for o in timed(rec, ops_of(rec, "traced"))]
    out["trace.overhead_s"], out["trace.overhead_share"] = m.trace_overhead(seq)
    return out


def span_self_times(rec):
    """Median self time per span name, and per operation kind for the
    root spans: each span minus the part its children cover."""
    children = {}
    for s in rec["spans"]:
        key = s["parent"] if s["parent"] >= 0 else ("op", s["op"])
        children.setdefault(key, []).append((s["t0"], s["t1"]))
    own = {}
    for s in rec["spans"]:
        own.setdefault(s["name"], []).append(
            m.self_time((s["t0"], s["t1"]), children.get(s["id"], [])))
    for o in ops_of(rec, "traced"):
        own.setdefault(f"op.{o['kind']}", []).append(
            m.self_time((o["t0"], o["t1"]), children.get(("op", o["id"]), [])))
    return {k: m.median(v) for k, v in sorted(own.items())}


# ----------------------------------------------------------------- main

def run(workload, seed, seconds, trace, sf=None, reps=None):
    digest, classpath = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    sf = sf or (CURATION_SF if workload == "curation_scale" else TPCH_SF)
    gen_s = generate(workload, data, seed, sf)
    t = time.perf_counter()
    rec = jvm(classpath, workload, run_dir, data, seconds, trace, seed,
              reps or SETUP_REPS)
    jvm_s = time.perf_counter() - t
    info = {"workload": workload, "sf": sf, "gen_s": gen_s,
            "git_commit": git_commit(), "source_digest": digest,
            **rec["machine"]}
    if workload == "interval_reads":
        check_intervals(rec, data)
    elif workload == "curation_scale":
        bad, digests, rows = check_curation(rec, data, run_dir, sf)
        info["output_digests"] = digests
        rec["extra"]["verified_pairs"] = rows.get("llm_dedup_near", 0)
        checked = [o for o in rec["ops"] if o["detail"].get("phase")]
        for n, name in bad:
            checked[n - 1]["ok"] = False
            checked[n - 1]["error"] += f"{name} differs from its oracle; "
    log(f"gen {gen_s:.1f}s jvm {jvm_s:.1f}s check {time.perf_counter() - t - jvm_s:.1f}s")
    failed = [o for o in rec["ops"] if not o["ok"]]
    for o in failed[:5]:
        log(f"op {o['id']} {o['kind']} failed: {o['error']}")
    e2e, tail_info = end_to_end(rec)
    info.update(tail_info)
    info["setup_reps_s"] = rec["setup_reps_s"]
    info["session_s"] = rec["session_s"]
    if trace:
        values, units = per_layer(rec), PER_LAYER
        info["span_self_s"] = span_self_times(rec)
    else:
        values, units = e2e, END_TO_END
    info["end_to_end"] = e2e
    with open(os.path.join(run_dir, "summary.json"), "w") as fh:
        json.dump({"info": info, "metrics": values, "spans": rec["spans"]}, fh)
    return {"correct": not failed, "attempted": len(rec["ops"]),
            "failed": len(failed),
            "metrics": {k: {"value": float(values[k]), "unit": u}
                        for k, u in units.items()}}, info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload briefly at sf0.001, traced")
    a = ap.parse_args()
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            res, _ = run(w, a.seed, 1, 1, sf=0.001, reps=1)
            log(f"smoke {w}: correct={res['correct']} attempted={res['attempted']}")
            ok = ok and res["correct"]
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required")
    res, info = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"info": info}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
