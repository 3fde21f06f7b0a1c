#!/usr/bin/env python3
"""Benchmark of the graft engine: four workloads, end-to-end metrics with
tracing off, per-layer metrics from a traced run.

Run from the repository root:

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload, tiny, with checks

The first run in a checkout compiles src/main/scala and the harness with
the Scala compiler that ships in Spark's jars (no sbt) into
$CARGO_TARGET_DIR (default .bench_build). One driver JVM per run runs
the workload as one closed-loop client at local[nproc]. Outputs are
checked after the JVM exits: registry queries against their DuckDB
oracle (SparkEntry.oracleSql), daily loads against the generator's own
latest-wins fold. The last stdout line is the JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DATA = os.path.join(BENCH, "data")
JVM_TIMEOUT_S = 165
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]

# Rows per table in perfbench/data (the project's seed-42 testdata at
# sf0.001; documents cut to doc_id < 100). records_per_s divides the
# rows a pass's units read by pass_s.
ROWS = {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
        "part": 200, "orders": 1500, "lineitem": 6000, "events": 1000,
        "documents": 100}

# Per workload: its units (registry query -> tables it reads) or the daily
# load shape, the warm-up passes run after the cold pass and left out of
# the warm metrics, and the minimum number of measured warm passes. The
# sizes keep a full measurement (4 + 22 runs per workload, two builds)
# inside an hour; the cheap passes of analytics_mix and streaming_state
# get a warm-up pass and a second measured pass. NOTES.md says why each
# workload is in the mix.
WORKLOADS = {
    "etl_daily_loads": {
        "loads": 3, "pages": 2, "page_records": 100, "warmup": 0, "warm": 1,
    },
    "analytics_mix": {
        "units": {
            "sql_q3_shipping": ["customer", "orders", "lineitem"],
            "sql_q6_forecast": ["lineitem"],
            "asof_join_native": ["events"],
            "grouping_sets": ["lineitem"],
            "merge_upsert_latest": ["events"],
            "dq_report": ["orders"],
        },
        "warmup": 1, "warm": 2,
    },
    "curation_dedup": {
        "units": {
            "near_dedup_chars": ["documents"],
            "simhash_pairs": ["documents"],
        },
        "warmup": 0, "warm": 1,
    },
    "streaming_state": {
        "units": {
            "streaming_sessionize": ["events"],
        },
        "warmup": 1, "warm": 2,
    },
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- toolchain and build ------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def build(jars):
    """Compiles src/main/scala, then the harness against it, packs both as
    jars, and records a class-data-sharing archive from one training run
    of every workload's units, which later runs map at JVM start. Rebuilds
    only when a source file changed."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                                recursive=True))
    bench_src = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    if not main_src:
        fail("src/main/scala holds no sources: run from the repository root")
    if not bench_src:
        fail("perfbench/harness holds no sources")
    units = sorted(u for cfg in WORKLOADS.values() for u in cfg.get("units", {}))
    # the training run covers these units, so they key the archive too
    digest = hashlib.sha256((jars + ",".join(units)).encode())
    for f in main_src + bench_src:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = build_root()
    stamp = os.path.join(out, "stamp")
    cp = [os.path.join(out, "main.jar"), os.path.join(out, "bench.jar"),
          os.path.join(jars, "*")]
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp, archive
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    scalac = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
              "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
    for lib, jar, files in ((None, cp[0], main_src), (cp[0], cp[1], bench_src)):
        classes = jar[:-len(".jar")]
        os.makedirs(classes)
        cmd = scalac + (["-cp", lib] if lib else []) + ["-d", classes] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-6000:])
            fail("compile failed", 3)
        with zipfile.ZipFile(jar, "w") as z:
            for f in sorted(glob.glob(os.path.join(classes, "**", "*"), recursive=True)):
                if os.path.isfile(f):
                    z.write(f, os.path.relpath(f, classes))
        shutil.rmtree(classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    t1 = time.time()
    work = os.path.join(out, "work", "train")
    pages = os.path.join(work, "pages")
    os.makedirs(pages)
    gen_daily_loads(pages, 0, 2, 2, 20)
    args = ["seed=0", "seconds=0", "trace=0", "min_warm=0", f"pages={pages}",
            "loads=2", "units=" + ",".join(units)]
    launch(cp, work, args, [f"-XX:ArchiveClassesAtExit={archive}"], 600)
    if not os.path.exists(archive):
        fail("class archive training run left no archive", 3)
    log(f"class archive recorded in {time.time() - t1:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cp, archive


def launch(cp, work, args, jvm_flags, timeout):
    """Runs the harness in a fresh driver JVM inside `work`; returns its
    JSON record. setup_s counts from just before the process is spawned."""
    for d in ("tmp", "local", "out", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # no perf-data file: the JVM would write it under /tmp
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    cmd += jvm_flags
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Harness"]
    result = os.path.join(work, "result.json")
    args = args + [f"cores={os.cpu_count() or 1}", f"data={DATA}", f"work={work}",
                   f"result={result}"]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        spawn_us = time.time_ns() // 1000
        proc = subprocess.Popen(cmd + args + [f"spawn_us={spawn_us}"],
                                stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"driver JVM exceeded {timeout} s; log in {jvm_log}", 4)
    if rc != 0:
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"driver JVM exited with {rc}; log in {jvm_log}", 4)
    with open(result) as fh:
        return json.load(fh)


# ---- inputs -------------------------------------------------------------

EVENT_TYPES = ["view", "click", "cart", "purchase"]


def gen_daily_loads(root, seed, loads, pages, page_records):
    """Writes `loads` paginated endpoints of {"records", "pagination"}
    pages. Loads repeat keys inside themselves and update keys of earlier
    loads; one seed-chosen load (never the first) carries a NULL key and
    must take the FAILED path. Returns the expected per-load status and
    audit count, and the expected final target, from a latest-wins fold
    written here without engine code."""
    rng = random.Random(seed)
    failed_load = rng.randrange(1, loads) if loads > 1 else -1
    next_id = 1
    target = {}
    expect = []
    for i in range(loads):
        d = os.path.join(root, f"load_{i}")
        os.makedirs(d)
        users = 20 + 10 * i          # the key space, and so the target, grows
        clock = f"2026-01-{i + 1:02d} 06:00:00"
        records = []
        for p in range(pages):
            recs = []
            for _ in range(page_records):
                recs.append({"event_id": next_id, "user_id": rng.randrange(users),
                             "event_type": rng.choice(EVENT_TYPES),
                             "value": round(rng.uniform(0, 500), 2)})
                next_id += 1
            if i == failed_load and p == pages // 2:
                recs[rng.randrange(page_records)]["user_id"] = None
            page = f"page_{p + 1}.json"
            with open(os.path.join(d, page), "w") as fh:
                json.dump({"records": recs,
                           "pagination": {"has_next": p < pages - 1}}, fh)
            records += [(r, page) for r in recs]
        if any(r["user_id"] is None for r, _ in records):
            expect.append({"status": "FAILED", "audit_status": "FAILED: null_keys",
                           "count": 0})
            continue
        latest = {}
        for r, page in records:
            k = (r["user_id"], r["event_type"])
            if k not in latest or r["event_id"] > latest[k][0]["event_id"]:
                latest[k] = (r, page)
        for k, (r, page) in latest.items():
            target[k] = (r["event_id"], r["user_id"], r["event_type"], r["value"],
                         clock, page)
        expect.append({"status": "SUCCESS", "audit_status": "SUCCESS",
                       "count": len(target)})
    return {"loads": expect, "target": sorted(target.values())}


# ---- checks -------------------------------------------------------------

def canon(rel):
    """tools/check.py's canon: row count, column set, hash over the value
    matrix with columns sorted by name and rows sorted."""
    df = rel.fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(df.astype(str).values.tolist())
    h = hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]
    return len(df), sorted(df.columns), h


def check_registry(res, work):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    want = {}
    for p in res["passes"]:
        for u in p["units"]:
            name = u["name"]
            if "error" in u:
                continue
            if name not in want:
                sql = res["oracle"].get(name)
                want[name] = canon(con.sql(sql)) if sql else None
            files = glob.glob(os.path.join(work, "out", f"p{p['pass']}", name,
                                           "*.parquet"))
            if want[name] is None:
                u["error"] = "no oracle for this query"
            elif not files:
                u["error"] = "no output written"
            else:
                got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})"))
                if got != want[name]:
                    u["error"] = (f"wrong output: rows={got[0]} hash={got[2]} vs "
                                  f"oracle rows={want[name][0]} hash={want[name][2]}")


def check_daily_loads(res, work, expect):
    import duckdb
    con = duckdb.connect()
    loads = len(expect["loads"])
    kept = []
    for p in res["passes"]:
        pdir = os.path.join(work, "etl", f"p{p['pass']}")
        for u, e in zip(p["units"], expect["loads"]):
            if "error" not in u and u.get("status") != e["status"]:
                u["error"] = f"status {u.get('status')} but expected {e['status']}"
        audit = glob.glob(os.path.join(pdir, "audit", "*.parquet"))
        rows = con.sql(f"SELECT status, record_count FROM read_parquet({audit!r}) "
                       "ORDER BY load_timestamp").fetchall() if audit else []
        kept.append(len(rows))
        last = p["units"][-1]
        e = expect["loads"][-1]
        if "error" not in last and (not rows or rows[-1] != (e["audit_status"], e["count"])):
            last["error"] = f"last audit row {rows[-1:]} but expected " \
                            f"{(e['audit_status'], e['count'])}"
        files = glob.glob(os.path.join(pdir, f"t{loads % 2}", "*.parquet"))
        got = sorted(con.sql(
            "SELECT event_id, user_id, event_type, value, "
            "strftime(load_timestamp, '%Y-%m-%d %H:%M:%S'), "
            "regexp_extract(source_file, '[^/]+$') "
            f"FROM read_parquet({files!r})").fetchall()) if files else []
        if [tuple(r) for r in got] != [tuple(r) for r in expect["target"]] \
                and "error" not in last:
            last["error"] = (f"final target has {len(got)} rows, expected "
                             f"{len(expect['target'])} (or values differ)")
    return kept


# ---- metrics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile that still has >= 10 samples above it. A
    run with 20 or fewer samples has no such percentile above its median,
    so it reports the maximum instead."""
    s = sorted(samples)
    n = len(s)
    if n > 20:
        k = n - 11
        return s[k], 100.0 * (k + 1) / n, n
    return s[-1], 100.0, n


def pass_wall(p):
    return sum(u["wall_s"] for u in p["units"])


def end_to_end(res, records, warmup):
    warm = [p for p in res["passes"] if p["pass"] > warmup]
    units = [u for p in warm for u in p["units"]]
    attempted = sum(len(p["units"]) for p in res["passes"])
    failed = sum(1 for p in res["passes"] for u in p["units"] if "error" in u)
    pass_s = median([pass_wall(p) for p in warm])
    t, pct, n = tail([u["wall_s"] for u in units])
    print(f"unit_tail_s is p{pct:.1f} of n={n} measured unit samples")
    m = {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (pass_wall(res["passes"][0]), "s"),
        "pass_s": (pass_s, "s"),
        "unit_p50_s": (median([u["wall_s"] for u in units]), "s"),
        "unit_tail_s": (t, "s"),
        "records_per_s": (records / pass_s, "rec/s"),
        "unit_ok_frac": ((attempted - failed) / attempted, "ratio"),
        "peak_heap_mb": (res["heap_after_gc_mb"], "MB"),
    }
    return m, attempted, failed


def per_layer(res, kept, warmup):
    cores = res["cores"]
    traced = [p for p in res["passes"] if p["pass"] > warmup and p["traced"]]
    untraced = [p for p in res["passes"] if p["pass"] > warmup and not p["traced"]]
    sample = traced or res["passes"][:1]

    def layer_sum(p, key, layers=None):
        return sum(s[key] for u in p["units"]
                   for name, s in u["trace"]["layers"].items()
                   if layers is None or name in layers)

    def jobs_time(p, layer, pred):
        return sum(max(0, j[3] - j[2]) for u in p["units"] for j in u["trace"]["jobs"]
                   if j[0] == layer and pred(j[1] or "")) / 1e3

    def no_job_s(u):
        spans = sorted((max(j[2], u["start_ms"]), min(j[3], u["end_ms"]))
                       for j in u["trace"]["jobs"] if j[3] >= 0)
        busy, cur_s, cur_e = 0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0, (u["end_ms"] - u["start_ms"]) - busy) / 1e3

    def one(p):
        wall = pass_wall(p)
        units = p["units"]
        lw = lambda l: sum(u["layers"].get(l, 0.0) for u in units)
        tr = [u["trace"] for u in units]
        build_s = lw("build")
        run_ms = layer_sum(p, "run_ms")
        return {
            "SparkEntry.build_s": build_s,
            "SparkEntry.build_jobs": layer_sum(p, "jobs", {"build"}),
            "SparkEntry.build_share": build_s / wall if wall else 0.0,
            "spark.plan.analysis_s": sum(t["plan"]["analysis_ms"] for t in tr) / 1e3,
            "spark.plan.optimization_s": sum(t["plan"]["optimization_ms"] for t in tr) / 1e3,
            "spark.plan.planning_s": sum(t["plan"]["planning_ms"] for t in tr) / 1e3,
            "spark.plan.executions": sum(t["plan"]["n"] for t in tr),
            "spark.exec.jobs": layer_sum(p, "jobs"),
            "spark.exec.stages": layer_sum(p, "stages"),
            "spark.exec.tasks": layer_sum(p, "tasks"),
            "spark.exec.task_run_s": run_ms / 1e3,
            "spark.exec.task_cpu_s": layer_sum(p, "cpu_ns") / 1e9,
            "spark.exec.gc_s": layer_sum(p, "gc_ms") / 1e3,
            "spark.exec.util": run_ms / 1e3 / (wall * cores) if wall else 0.0,
            "spark.exec.shuffle_write_mb": layer_sum(p, "shuffle_write") / 2**20,
            "spark.exec.shuffle_read_mb": layer_sum(p, "shuffle_read") / 2**20,
            "spark.exec.spill_mb": layer_sum(p, "spill") / 2**20,
            "spark.exec.peak_exec_mem_mb": max([s["peak_exec_mem"] for t in tr
                                                for s in t["layers"].values()] or [0]) / 2**20,
            "spark.exec.failed_tasks": layer_sum(p, "failed_tasks"),
            "spark.sched.no_job_s": sum(no_job_s(u) for u in units),
            "spark.sched.stage_queue_s": layer_sum(p, "queue_ms") / 1e3,
            "spark.sched.task_deser_s": layer_sum(p, "deser_ms") / 1e3,
            "spark.cache.peak_mb": max([t["cache_peak"] for t in tr] or [0]) / 2**20,
            "sources.fetch_s": lw("fetch"),
            "sources.fetch_jobs": layer_sum(p, "jobs", {"fetch"}),
            "sources.pages": sum(u.get("pages", 0) for u in units),
            "sources.Sinks.write_s": lw("sink"),
            "sources.Sinks.jobs": layer_sum(p, "jobs", {"sink"}),
            "sources.Sinks.bytes_written": layer_sum(p, "bytes_written", {"sink"}),
            "runner.run_s": lw("run"),
            "runner.dq_s": jobs_time(p, "run", lambda cs: cs.startswith("collect at Pipeline")),
            "runner.merge_count_s": jobs_time(p, "run", lambda cs: cs.startswith("count at Pipeline")),
            "runner.audit_s": jobs_time(p, "run", lambda cs: "Sinks.scala" in cs),
            "runner.failed_loads": sum(1 for u in units if u.get("status") == "FAILED"),
            "runner.audit_rows_kept": kept[p["pass"]] if kept else 0,
            "streaming.batches": sum(t["stream"]["batches"] for t in tr),
            "streaming.trigger_s": sum(t["stream"]["trigger_ms"] for t in tr) / 1e3,
            "streaming.plan_s": sum(t["stream"]["plan_ms"] for t in tr) / 1e3,
            "streaming.commit_s": sum(t["stream"]["commit_ms"] for t in tr) / 1e3,
            "streaming.state_rows": max([t["stream"]["state_rows"] for t in tr] or [0]),
            "streaming.state_mem_mb": max([t["stream"]["state_mem"] for t in tr] or [0]) / 2**20,
        }

    per_pass = [one(p) for p in sample]
    out = {k: median([d[k] for d in per_pass]) for k in per_pass[0]}
    out["jvm.jit_compile_s"] = res["jvm"]["jit_cold_ms"] / 1e3
    out["jvm.code_cache_mb"] = res["jvm"]["code_cache_mb"]
    overhead = (median([pass_wall(p) for p in traced]) -
                median([pass_wall(p) for p in untraced])) if traced and untraced else 0.0
    out["trace.overhead_s"] = overhead
    return out


UNITS = {"_s": "s", "_mb": "MB", "_share": "ratio", ".util": "ratio",
         "bytes_written": "bytes"}


def unit_of(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


# ---- one run ------------------------------------------------------------

def run_workload(name, seed, seconds, trace, smoke=False):
    """Runs one workload in a fresh JVM: a cold pass, the workload's
    warm-up passes, then at least its `warm` passes, more while the window
    of `seconds` is open. A traced run needs a traced and an untraced
    measured pass."""
    cfg = WORKLOADS[name]
    warmup = 0 if smoke else cfg["warmup"]
    min_warm = warmup + (max(2, cfg["warm"]) if trace else (1 if smoke else cfg["warm"]))
    cp, archive = build(spark_jars())
    work = os.path.join(build_root(), "work", name)
    shutil.rmtree(work, ignore_errors=True)
    args = [f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
            f"min_warm={min_warm}"]
    t0 = time.time()
    expect = None
    if "loads" in cfg:
        loads = 2 if smoke else cfg["loads"]
        pages = os.path.join(work, "pages")
        expect = gen_daily_loads(pages, seed, loads, cfg["pages"], cfg["page_records"])
        args += [f"pages={pages}", f"loads={loads}"]
        records = loads * cfg["pages"] * cfg["page_records"]
    else:
        os.makedirs(work)
        args.append("units=" + ",".join(cfg["units"]))
        records = sum(ROWS[t] for ts in cfg["units"].values() for t in ts)
    log(f"{name}: inputs generated in {time.time() - t0:.3f} s (not in setup_s)")
    res = launch(cp, work, args, [f"-XX:SharedArchiveFile={archive}"], JVM_TIMEOUT_S)

    kept = []
    if expect is not None:
        kept = check_daily_loads(res, work, expect)
        loads = len(expect["loads"])
        if any(k != loads for k in kept):
            log(f"{name}: KNOWN DEFECT - the audit path keeps {kept[-1]} of {loads} "
                "rows (Pipeline.run appends with fresh = true)")
    else:
        check_registry(res, work)
    for p in res["passes"]:
        for u in p["units"]:
            if "error" in u:
                log(f"{name}: pass {p['pass']} unit {u['name']} FAILED: {u['error']}")

    e2e, attempted, failed = end_to_end(res, records, warmup)
    metrics = e2e if not trace else {k: (v, unit_of(k)) for k, v in
                                     per_layer(res, kept, warmup).items()}
    log(f"{name}: {len(res['passes'])} passes, {attempted} units, {failed} failed")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload briefly and check its outputs")
    a = ap.parse_args()
    if not os.path.isdir(DATA):
        fail("perfbench/data is missing")
    if a.smoke:
        ok = True
        for name in WORKLOADS:
            r = run_workload(name, a.seed, 0, a.trace, smoke=True)
            report(name, r)
            ok = ok and r["correct"]
        sys.exit(0 if ok else 1)
    if not a.workload:
        fail("--workload is required")
    r = run_workload(a.workload, a.seed, a.seconds, a.trace)
    report(a.workload, r)
    print(json.dumps(r))


def report(name, r):
    print(f"{name}: correct={r['correct']} attempted={r['attempted']} "
          f"failed={r['failed']}")
    for k, m in r["metrics"].items():
        print(f"{name} {k} = {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    main()
