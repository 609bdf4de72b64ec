#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload lake_dml --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the harness from
the checkout's sources (perfbench/build.sbt) when they changed, generates
the inputs from the seed under .perfbench/ in the checkout, runs the
harness JVM, checks every output against an independent DuckDB
reference, and prints the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 gives
the end-to-end metrics, --trace 1 the per-layer ones. Exits nonzero when
an output is wrong or the run cannot complete. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

import datagen  # noqa: E402
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402

ROOT = os.getcwd()
SF = 0.01  # the data work per statement is small either way; sf 0.1 doubles set-up
ANALYTIC_PER_MODULE = 2
HARNESS = "graft.perfbench.Harness"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170  # a run must end within 180 s; the first run of a checkout may build


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in ["src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"]:
        paths = [top] if os.path.isfile(top) else sorted(
            glob.glob(os.path.join(top, "**", "*"), recursive=True))
        for p in paths:
            if os.path.isfile(p):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs
    against: $SPARK_HOME, else the one the engine's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)/jars"\)', f.read())
        home = m and m.group(1)
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g"))
    log("perfbench: building engine + harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f}s")
    return classes


# ---------------------------------------------------------------- inputs

# Queries whose DuckDB oracle is quadratic (pairwise text similarity)
# and takes 1-45 s at sf 0.01, too long for a check inside every run.
SLOW_ORACLE = {"q21_dedup_near", "q46_simhash_neardup", "q66_fuzzy_join", "q91_jaccard_join",
               "q97_dedup_groups", "q101_dedup_apply", "q113_dedup_incremental",
               "q115_group_split", "q117_groups_incremental"}


def query_modules():
    """Non-lake verified queries (q02-q129) by module, read from the
    engine's query sources. q28_text_ingest is left out: it stages files
    at a fixed absolute path outside the run's temp root."""
    mods = {}
    for m, f in [("lab", "LabQueries"), ("llm", "LlmQueries"), ("tpch", "TpchQueries"),
                 ("ext", "ExtQueries")]:
        src = open(os.path.join(ROOT, "src/main/scala/graft/queries", f + ".scala")).read()
        names = sorted(set(re.findall(r'"(q(\d+)_[a-z0-9_]+)"\s*->\s*\{', src)))
        mods[m] = [n for n, num in names if 2 <= int(num) <= 129
                   and n != "q28_text_ingest" and n not in SLOW_ORACLE]
    return mods


def analytic_set(mods):
    """The same stratified set in every run (drawn once with a fixed
    seed), so runs with different seeds measure the same mix; the run's
    seed orders the ops and generates the data."""
    rng = random.Random(20261017)
    return {m: rng.sample(qs, min(ANALYTIC_PER_MODULE, len(qs))) for m, qs in mods.items()}


def make_inputs(workload, seed, work):
    data = os.path.join(work, "data")
    if workload == "analytic":
        datagen.write(data, datagen.tables(seed, SF))
        return data, W.analytic(seed, analytic_set(query_modules()))
    datagen.write(data, {"orders": datagen.orders(np.random.default_rng(seed), SF)})
    orders = os.path.join(data, "orders.parquet")
    n = int(1_500_000 * SF)
    gen = W.lake_dml if workload == "lake_dml" else W.lake_read
    return data, gen(seed, orders, n, work)


# ---------------------------------------------------------------- harness

def run_harness(classes, work, data, ops_file, seconds, trace, deadline):
    cpus = os.cpu_count() or 1
    # A fixed heap: grown on demand from its small initial size, G1 ran a
    # young collection and started a concurrent cycle (humongous
    # allocations above the occupancy threshold) about every 0.5 s of a
    # lake_dml window, which made op times vary from run to run.
    cmd = (["java", "-Xms2g", "-Xmx2g"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.catalog.graft.warehouse={work}/warehouse",
              f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"),
              HARNESS, work, data, ops_file, str(seconds), str(trace), str(cpus)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            tail = [l for l in f.read().splitlines() if " INFO " not in l][-40:]
        log("\n".join(tail))
        fail(f"harness exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def fmt(row):
    return "|".join("null" if v is None else str(v) for v in row)


def rows_of(con, sql):
    return sorted(fmt(r) for r in con.execute(sql).fetchall())


def replay(con, ops, executed_ids):
    """Apply the write ops that ran to the DuckDB reference. Returns the
    rows each write changed and, after every set-up step, each table's
    (count, sum of cents)."""
    changed, per_step, loaded = {}, [], []
    for o in ops:
        if o["phase"] == "timed" and o["id"] not in executed_ids:
            continue
        if o["kind"] == "sql":
            n = 0
            for st in o["ref"]:
                r = con.execute(st).fetchall()
                if o["type"].startswith(("update", "delete")) and r:
                    n += r[0][0]
            changed[o["id"]] = o.get("rows", n)
        if o["type"] == "load":
            loaded.append(o["table"])
        if o["phase"] == "setup":
            per_step.append({t: con.execute(
                f"SELECT count(*), coalesce(sum(o_cents), 0) FROM {t}").fetchone()
                for t in loaded})
    return changed, per_step


def check_lake_dml(con, ops, work, executed):
    changed, _ = replay(con, ops, executed)
    bad = []
    final = lambda t: f"read_parquet('{work}/final/{t}/*.parquet')"  # noqa: E731
    cols = "o_orderkey, o_custkey, o_orderstatus, o_cents"
    pairs = [(t, f"SELECT {cols} FROM {final(t)}", f"SELECT {cols} FROM {t}")
             for t in ("cow", "mor", "src")]
    pairs.append(("tgt", f"SELECT {cols} FROM {final('tgt')}", f"SELECT {cols} FROM src"))
    pairs.append(("mv", f"SELECT {W.MV_COLS} FROM {final('mv')}",
                  W.MV_SELECT.format(t="cow")))
    for name, got, exp in pairs:
        if rows_of(con, got) != rows_of(con, exp):
            bad.append(name)
            log(f"perfbench: final contents of {name} differ from the reference")
    return bad, changed


def check_lake_read(con, ops, res, executed_ops):
    _, per_step = replay(con, ops, set())
    versions = res["setup_versions"]
    bad = []
    cache = {}
    for rec in executed_ops:
        o = ops[rec["id"]]
        ref = o["ref"][0]
        if ref.startswith("step:"):
            c, s = per_step[int(ref[5:])][o["table"]]
            exp = [fmt((c, s))]
        elif ref == "history":
            want = {}
            for k, vs in enumerate(versions):
                if o["table"] in vs and o["table"] in per_step[k]:
                    want[vs[o["table"]]] = per_step[k][o["table"]][0]
            got = dict(tuple(int(x) for x in r.split("|")) for r in rec["rows"])
            ok = all(got.get(v) == n for v, n in want.items()) and max(got) == max(want)
            exp = rec["rows"] if ok else ["<history mismatch>"]
        else:
            if ref not in cache:
                cache[ref] = rows_of(con, ref)
            exp = cache[ref]
        if rec["ok"] and rec["rows"] != exp:
            bad.append(rec["id"])
            if len(bad) <= 3:
                log(f"perfbench: op {rec['id']} ({o['type']}) {o['text']}\n"
                    f"  got {rec['rows'][:3]} expected {exp[:3]}")
    return bad


def check_analytic(con, res, work, data):
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    bad = []
    for d in sorted(glob.glob(os.path.join(work, "check", "q*"))):
        q = os.path.basename(d)
        got = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        sql = res["oracle"].get(q)
        if sql is None:
            ok = len(got) > 0
        else:
            exp = con.execute(sql).df()
            exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
            ok = (list(exp.columns) == list(got.columns)
                  and exp.astype(str).values.tolist() == got.astype(str).values.tolist())
        if not ok:
            bad.append(q)
            log(f"perfbench: {q} differs from its oracle")
    return bad


# ---------------------------------------------------------------- metrics

def latency_metrics(recs):
    lat = [r["t1"] - r["t0"] for r in recs]
    span_s = (max(r["t1"] for r in recs) - min(r["t0"] for r in recs)) / 1000.0
    return {"latency_p50_ms": (M.median(lat), "ms"),
            "throughput_ops_s": (len(recs) / span_s, "1/s")}


STREAM_DURATIONS = [("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                    ("latestOffset", "latest_offset_ms"), ("queryPlanning", "query_planning_ms"),
                    ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")]
PLANNING_PHASES = [("analysis", "analysis_ms"), ("optimization", "optimization_ms"),
                   ("planning", "physical_ms")]


def op_spans(raw):
    """The harness's spans and listener events, per op: its root span and
    its child spans (planning phases, jobs, stages, stream triggers,
    lake.snapshot), each a dict with name, start and end (epoch ms)."""
    by_op = {}
    for s in raw:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for op, ss in by_op.items():
        root, kids, starts = None, [], {}
        for s in ss:
            e = s.get("e")
            if e is None and s["parent"] is None:
                root = s
            elif e is None:
                kids.append({"name": s["name"], "start": s["start"], "end": s["end"]})
            elif e["ev"] == "job_start":
                starts[e["job"]] = e["t"]
            elif e["ev"] == "job_end" and e["job"] in starts:
                kids.append({"name": "exec.job", "start": starts[e["job"]], "end": e["t"]})
            elif e["ev"] == "stage":
                kids.append(dict(e, name="exec.stage"))
            elif e["ev"] == "qe":
                for i, (ph, (ps, pe)) in enumerate(sorted(e["phases"].items())):
                    kids.append({"name": f"planning.{ph}", "start": ps, "end": pe, "qe_first": i == 0})
            elif e["ev"] == "trigger":
                kids.append({"name": "streaming.trigger", "start": e["t"],
                             "end": e["t"] + e["durations"].get("triggerExecution", 0),
                             "durations": e["durations"]})
        out[op] = {"root": root, "children": kids}
    return out


def layer_metrics(res, untraced, traced, changed, live_rows, workload):
    spans = op_spans(res["spans"])
    m = dict.fromkeys(LAYER_KEYS, 0.0)

    def add(k, v):
        m[k] += v

    scan_bytes = scan_live = 0.0
    for rec in traced:
        wall = rec["t1"] - rec["t0"]
        kids = spans[rec["id"]]["children"]
        jobs = [(c["start"], c["end"]) for c in kids if c["name"] == "exec.job"]
        planning = 0.0
        for c in kids:
            if c["name"] == "exec.stage":
                for k, key in [("tasks", "exec.tasks"), ("run_ms", "exec.task_ms"),
                               ("cpu_ms", "exec.cpu_ms"), ("gc_ms", "exec.gc_ms"),
                               ("shuffle_read", "exec.shuffle_read_bytes"),
                               ("shuffle_write", "exec.shuffle_write_bytes"),
                               ("spill", "exec.spill_bytes"), ("in_bytes", "sources.input_bytes"),
                               ("in_rows", "sources.input_rows")]:
                    add(key, c[k])
                add("exec.stages", 1)
                add("exec.sched_wait_ms", max(0, c["first_launch"] - c["start"]))
                if rec["type"] in W.READ_TYPES:
                    scan_bytes += c["in_bytes"]
            elif c["name"].startswith("planning."):
                add("planning.qe_count", c["qe_first"])
                key = dict(PLANNING_PHASES).get(c["name"][len("planning."):])
                if key:
                    add("planning." + key, c["end"] - c["start"])
                    planning += c["end"] - c["start"]
            elif c["name"] == "streaming.trigger":
                for k, key in STREAM_DURATIONS:
                    add("streaming." + key, c["durations"].get(k, 0))
        job_ms = M.union_length(jobs)
        add("exec.jobs", len(jobs))
        add("exec.job_ms", job_ms)
        add("driver.gap_ms", M.driver_gap(wall, job_ms, planning))
        add("sources.table_ms", rec["build_ms"])
        if rec["type"] == "mv_refresh":
            add("matview.refresh_ms", wall)
            add("matview.refresh_jobs", len(jobs))
        for k in ("manifest_parses", "segment_loads", "merge_rebases", "snapshot_ms",
                  "bytes_written"):
            add("lake." + k, rec["lake"][k])
        for k in ("bytes_read", "bytes_written"):
            add("fs." + k, rec["fs"][k])
        if rec["type"] in W.READ_TYPES:
            scan_live += rec["lake"]["live_bytes"]
    m["engine.session_ms"] = res["session_ms"]
    m["exec.parallelism"] = m["exec.task_ms"] / m["exec.job_ms"] if m["exec.job_ms"] else 0.0
    tabs = res["tables"]
    m["lake.versions"] = float(sum(t["version"] for t in tabs.values()))
    m["lake.live_files"] = float(sum(t["live_files"] for t in tabs.values()))
    m["lake.table_bytes"] = float(sum(t["disk_bytes"] for t in tabs.values()))
    live = sum(t["live_bytes"] for t in tabs.values())
    m["lake.space_amp"] = m["lake.table_bytes"] / live if live else 0.0
    m["lake.scan_frac"] = scan_bytes / scan_live if scan_live else 0.0
    rows_changed = sum(changed.get(r["id"], 0) for r in traced)
    if rows_changed:
        # user bytes changed = rows changed x live bytes per row of cow + mor
        per_row = (sum(tabs[t]["live_bytes"] for t in live_rows)
                   / sum(live_rows.values()))
        m["lake.write_amp"] = m["lake.bytes_written"] / (rows_changed * per_row)
    for k, v in res.get("jvm", {}).items():
        m["jvm." + k] = float(v)
    types = W.DML_TYPES + W.READ_TYPES + (W.ANALYTIC_TYPES if workload == "analytic" else [])
    for t in types:
        lat = [r["t1"] - r["t0"] for r in untraced if r["type"] == t]
        m[f"op.{t}.p50_ms"] = M.median(lat)
        m[f"op.{t}.count"] = float(len(lat))
    a = M.median([r["t1"] - r["t0"] for r in untraced])
    b = M.median([r["t1"] - r["t0"] for r in traced])
    m["trace.latency_p50_ms"] = b
    m["trace.overhead_ms"] = b - a
    return m


LAYER_KEYS = (["engine.session_ms", "sources.table_ms", "sources.input_bytes",
               "sources.input_rows", "planning.analysis_ms", "planning.optimization_ms",
               "planning.physical_ms", "planning.qe_count"]
              + ["exec." + k for k in ("jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms",
                                       "job_ms", "parallelism", "sched_wait_ms",
                                       "shuffle_read_bytes", "shuffle_write_bytes",
                                       "spill_bytes")]
              + ["lake." + k for k in ("manifest_parses", "segment_loads", "merge_rebases",
                                       "snapshot_ms", "versions", "live_files", "bytes_written",
                                       "table_bytes", "scan_frac", "write_amp", "space_amp")]
              + ["fs.bytes_read", "fs.bytes_written", "matview.refresh_ms",
                 "matview.refresh_jobs"]
              + ["streaming." + key for _, key in STREAM_DURATIONS]
              + ["driver.gap_ms", "jvm.jit_ms", "jvm.gc_ms", "jvm.heap_after_gc_mb"])


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("parallelism", "scan_frac", "write_amp", "space_amp")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- main

def main():
    t_start = time.time()
    # a terminated run unwinds like an exception, so child processes are
    # killed and waited for and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["analytic", "lake_dml", "lake_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    classes = build()
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        data, ops = make_inputs(a.workload, a.seed, work)
        ops_file = os.path.join(work, "ops.tsv")
        W.write_ops(ops_file, ops)
        gen_s = time.time() - t0
        res = run_harness(classes, work, data, ops_file, a.seconds, a.trace, deadline)

        timed = res["ops"]
        executed = {r["id"] for r in timed}
        errors = [r for r in timed if not r["ok"]]
        for r in errors[:3]:
            log(f"perfbench: op {r['id']} ({r['type']}) failed: {r['err'][:300]}")
        con = duckdb.connect()
        changed = {}
        if a.workload == "lake_dml":
            bad, changed = check_lake_dml(con, ops, work, executed)
            wrong = len(bad)
        elif a.workload == "lake_read":
            wrong = len(check_lake_read(con, ops, res, timed))
        else:
            bad = set(check_analytic(con, res, work, data))
            wrong = sum(1 for r in timed if ops[r["id"]]["text"] in bad) + len(bad)
        live_rows = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                     for t in ("cow", "mor") if a.workload != "analytic"}
        attempted = len(timed)
        failed = len(errors) + wrong

        untraced = [r for r in timed if not r["traced"] and r["ok"]]
        traced = [r for r in timed if r["traced"] and r["ok"]]
        setup_s = gen_s + (res["first_timed_ms"] - res["jvm_start_ms"]) / 1000.0
        e2e = latency_metrics(untraced)
        e2e["setup_s"] = (setup_s, "s")
        summary = [f"{k} = {v:.4f} {u}" for k, (v, u) in e2e.items()]
        summary.append(f"error_rate = {failed / attempted:.4f} ({failed}/{attempted} ops)")
        summary.append(f"samples = {len(untraced)} timed ops")
        if "window_steal_frac" in res:
            summary.append(f"host_steal = {res['window_steal_frac']:.4f} of this machine's CPU time "
                           "during the timed window (taken by the hypervisor)")
        try:
            summary.append(f"latency_p90_ms = "
                           f"{M.percentile([r['t1'] - r['t0'] for r in untraced], 0.9):.4f} ms")
        except ValueError as e:
            summary.append(f"latency_p90_ms not reported: {e}")
        if a.trace:
            layers = layer_metrics(res, untraced, traced, changed, live_rows, a.workload)
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
            with open(os.path.join(ROOT, ".perfbench", f"spans-{a.workload}-s{a.seed}.json"),
                      "w") as f:
                json.dump(spans_with_self_time(res["spans"]), f)
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        for s in summary:
            print(s)
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out}))
        log(f"perfbench: {a.workload} seed {a.seed} done in {time.time() - t_start:.1f}s")
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def spans_with_self_time(raw):
    """Root spans (one per op) with their children and the op's self
    time: its span minus the part of it its children cover. The
    harness's own lake.snapshot call runs after the op and is left out."""
    out = []
    for op, sp in sorted(op_spans(raw).items()):
        root, kids = sp["root"], sp["children"]
        out.append({"op": op, "name": root["name"], "start": root["start"], "end": root["end"],
                    "parent": None,
                    "children": [{"name": k["name"], "start": k["start"], "end": k["end"],
                                  "parent": op} for k in kids],
                    "self_ms": M.self_time((root["start"], root["end"]),
                                           [(k["start"], k["end"]) for k in kids
                                            if k["name"] != "lake.snapshot"])})
    return out


if __name__ == "__main__":
    main()
