#!/usr/bin/env python3
"""Layer-by-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark client from source and computes the expected result digests;
both are cached under .bench_build/. Each run then starts a fresh JVM and
session, runs one cold pass and warm passes over the workload's queries
for --seconds, checks every query's result, and prints one JSON object as
the last line of stdout. See perfbench/README.md for the workloads, inputs,
metrics and traced run.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data")
HEAP = "4g"
QUERY_TIMEOUT_S = 60       # per-query limit inside the client
RUN_LIMIT_S = 150          # outer watchdog on the client JVM
HELD_OUT_SEED = 9001       # reserved for confirming claims; never tune on it
SETUPS = 3                 # JVM starts per run: the run's own and setup-only ones

MIB = 1 << 20
# Fixed query sets, sized so that a warm pass takes a few seconds on a
# 4-core machine (see README.md for how each set was chosen).
INVENTORY = ["q02_filter_project", "q17_rollup", "q97_tpch_q6", "q142_pii_redact",
             "q60_parquet_write_roundtrip", "q123_json_roundtrip", "q164_sorted_run_export",
             "q136_recursive_cte", "q223_canary_dec_trailzero"]
TPC = ["q98_tpch_q7", "q89_tpch_q18", "q105_tpch_q4"]
KERNELS = ["q187_window_sizebased", "q168_rank_group_limit", "q192_conditional_arg_agg"]
SPILL_CONFS = [
    "spark.graft.columnar.sort.spill.threshold=%d" % (4 * MIB),
    "spark.graft.columnar.window.rangeslide.maxRingBytes=%d" % (4 * MIB),
    "spark.graft.columnar.agg.maxGroups=4096",
    "spark.graft.columnar.wgl.maxGroups=256",
    "spark.sql.windowExec.buffer.spill.threshold=65536",
]
WORKLOADS = {
    "inventory-sf0.01": dict(scale="0.01", queries=INVENTORY, confs=[], oracle=True),
    "tpc-sf0.1": dict(scale="0.1", queries=TPC, confs=[], oracle=False),
    "kernels-sf0.1": dict(scale="0.1", queries=KERNELS, confs=[], oracle=False),
    "spill-sf0.1": dict(scale="0.1", queries=KERNELS, confs=SPILL_CONFS, oracle=False),
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "harness/*.scala")) +
                   [os.path.join(ROOT, "build.sbt")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_settings():
    """The settings of build.sbt the engine is compiled and run with: the
    Scala version, the directory of the Spark jars (`unmanagedBase`) and the
    JVM's --add-opens flags. They are read from build.sbt rather than copied,
    and a build.sbt that adds anything this build does not replicate
    (compiler options, compile-scope dependencies) stops the benchmark."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        text = fh.read()
    scala = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    opens = re.findall(r'"(java\.base/[\w.]+)"', text)
    deps = re.findall(r'"[^"]+"\s*%%?\s*"[^"]+"\s*%\s*"[^"]+"(\s*%\s*Test)?', text)
    if not (scala and jars and opens):
        raise SystemExit("perfbench: build.sbt has no scalaVersion, unmanagedBase or add-opens list")
    if "scalacOptions" in text or any(not test for test in deps):
        raise SystemExit("perfbench: build.sbt sets scalacOptions or compile dependencies, "
                         "which perfbench/run.py does not replicate")
    return scala.group(1), jars.group(1), [x for p in opens for x in ("--add-opens", p + "=ALL-UNNAMED")]


def scalac(out, sources, classpath, scala, jars):
    os.makedirs(out, exist_ok=True)
    compiler = [os.path.join(jars, "scala-%s-%s.jar" % (m, scala))
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise SystemExit("perfbench: no Scala %s compiler among the Spark jars: %s" % (scala, missing))
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
                    "@" + argfile], check=True, stdout=sys.stderr, timeout=900)


def build():
    """Compile the engine and the client, once per source state. Returns the
    build key and the client JVM's module flags and classpath."""
    key = source_hash()
    scala, jars, opens = sbt_settings()
    stamp = os.path.join(BUILD, "classes", key, "done")
    engine = os.path.join(BUILD, "classes", key, "engine")
    client = os.path.join(BUILD, "classes", key, "client")
    if not os.path.exists(stamp):
        shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
        log("perfbench: compiling engine and client")
        scalac(engine, sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                                        recursive=True)), jars + "/*", scala, jars)
        scalac(client, sorted(glob.glob(os.path.join(HERE, "harness/*.scala"))),
               jars + "/*:" + engine, scala, jars)
        open(stamp, "w").close()
    cp = [client, engine, os.path.join(ROOT, "src/main/resources"), jars + "/*"]
    return key, opens + ["-cp", ":".join(cp)]


def data_dir(scale):
    """The workload's input tables, checked against data/SHA256SUMS."""
    d = os.path.join(DATA, "sf" + scale)
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        sums = [l.split() for l in fh if l.startswith("sf%s/" % scale)]
    for digest, rel in sums:
        with open(os.path.join(DATA, rel), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise SystemExit("perfbench: input %s does not match data/SHA256SUMS" % rel)
    return d


# ---------------------------------------------------------------- client JVM

class Sandbox:
    """A run's private directories. Spark's local dirs, the JVM temp dir, the
    warehouse and every absolute /tmp path the queries write (mounted through
    Hadoop's viewfs) live here, and the whole tree is removed afterwards."""

    def __init__(self, tag):
        self.dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (tag, os.getpid(), time.time_ns()))
        for d in ("local", "tmp", "slash_tmp"):
            os.makedirs(os.path.join(self.dir, d))

    def confs(self):
        slash_tmp = "file://" + os.path.join(self.dir, "slash_tmp")
        return ["spark.local.dir=" + os.path.join(self.dir, "local"),
                "spark.sql.warehouse.dir=file://" + os.path.join(self.dir, "warehouse"),
                "spark.hadoop.fs.defaultFS=viewfs://perfbench/",
                "spark.hadoop.fs.viewfs.mounttable.perfbench.link./tmp=" + slash_tmp,
                "spark.hadoop.fs.viewfs.mounttable.perfbench.linkFallback=file:///"]

    def tmp_left_mb(self):
        total = 0
        for top in glob.glob(os.path.join(self.dir, "slash_tmp", "graft_*")):
            for dp, _, fs in os.walk(top):
                total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
        return total / MIB

    def remove(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def run_client(jvm, cfg, box, limit_s):
    """Start one client JVM on `cfg` and return its @pb records. A JVM that
    outlives `limit_s` is killed with its process group; its records so far
    are returned with a 'killed' marker."""
    path = os.path.join(box.dir, "client-%d.cfg" % time.time_ns())
    with open(path, "w") as fh:
        for k, v in cfg:
            fh.write("%s=%s\n" % (k, v))
    cmd = (["java", "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(box.dir, "tmp")] +
           jvm + ["perfbench.Harness", path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(box.dir, "local"))
    err = open(os.path.join(box.dir, "client.log"), "ab")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, cwd=box.dir,
                            start_new_session=True)
    killed = False
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        killed = True
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
    finally:
        err.close()
    recs = [json.loads(l[4:]) for l in out.decode("utf-8", "replace").splitlines()
            if l.startswith("@pb ")]
    if killed or proc.returncode != 0:
        recs.append({"kind": "killed" if killed else "exit", "code": proc.returncode})
        with open(os.path.join(box.dir, "client.log"), "rb") as fh:
            log(fh.read()[-3000:].decode("utf-8", "replace"))
    return recs


def client_cfg(mode, w, data, queries, box, **extra):
    cfg = [("mode", mode), ("data", "file://" + data), ("cores", str(cores())),
           ("timeout_s", str(QUERY_TIMEOUT_S))]
    cfg += [(k, str(v)) for k, v in extra.items()]
    cfg += [("conf", c) for c in box.confs() + w["confs"]]
    cfg += [("query", q) for q in queries]
    return cfg


# ---------------------------------------------------------------- expected results

def digest_rows(cols, rows):
    """check_oracle.py's canonical form: columns by name, rows sorted,
    floats at 6 significant digits."""
    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, list):
            return "[" + ",".join(norm(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
        return str(v)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_check(out_dir, data):
    """Names of the queries whose row-path result differs from the DuckDB
    oracle over the same tables."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM '%s'" % (os.path.basename(p)[:-8], p))
    mismatches, checked = [], 0
    for sql_path in sorted(glob.glob(os.path.join(out_dir, "*.sql"))):
        name = os.path.basename(sql_path)[:-4]
        sql = open(sql_path).read()
        checked += 1
        try:
            s = con.execute("SELECT * FROM '%s/%s/*.parquet'" % (out_dir, name))
            sv = digest_rows([d[0] for d in s.description], s.fetchall())
            o = con.execute(sql)
            ov = digest_rows([d[0] for d in o.description], o.fetchall())
            if sv != ov:
                mismatches.append(name)
        except Exception as e:  # an oracle that cannot run counts as a mismatch
            log("perfbench: oracle %s: %s" % (name, str(e)[:200]))
            mismatches.append(name)
    return checked, mismatches


def expected(key, name, w, data, queries, jvm):
    """Row-path digests (and, on the inventory, the DuckDB oracle check),
    cached per source state and query set."""
    qkey = hashlib.sha256("\n".join(sorted(queries)).encode()).hexdigest()[:12]
    path = os.path.join(BUILD, "expect", key, "%s-%s.json" % (w["scale"], qkey))
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    log("perfbench: computing expected results for %s" % name)
    box = Sandbox("expect")
    try:
        out = os.path.join(box.dir, "oracle")
        recs = run_client(jvm, client_cfg("expect", w, data, sorted(set(queries)), box,
                                                out=out,
                                                oracle=int(w["oracle"])), box, 900)
        exp = {r["name"]: r["digest"] for r in recs if r["kind"] == "expect" and r["ok"]}
        if set(exp) != set(queries):
            raise SystemExit("perfbench: row path failed on %s" % sorted(set(queries) - set(exp)))
        checked, mism = oracle_check(out, data) if w["oracle"] else (0, [])
    finally:
        box.remove()
    res = {"digests": exp, "oracle_checked": checked, "oracle_mismatches": mism}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(res, fh)
    return res


# ---------------------------------------------------------------- one run

TAIL_PERCENTILE = 95


def tail(lat):
    """The p95 of the warm latencies. A workload has few distinct queries, so
    a percentile that moved with the sample count would jump between the
    latency bands of different queries; a fixed one does not. With fewer
    than 200 samples, fewer than 10 lie beyond it."""
    xs = sorted(lat)
    i = (len(xs) - 1) * TAIL_PERCENTILE / 100
    lo, hi = math.floor(i), math.ceil(i)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def drift(qrecs, warm_ids):
    """Median over queries of (mean latency over the later half of the warm
    passes / mean over the earlier half): above 1, the session slows as it
    runs. Halves rather than the first and last pass, so one noisy pass does
    not decide it."""
    by_pass = {}
    for q in qrecs:
        if q["pass"] in warm_ids and q["ok"]:
            by_pass.setdefault(q["name"], {})[q["pass"]] = q["lat_s"]
    ids = sorted(warm_ids)
    early, late = ids[:len(ids) // 2], ids[(len(ids) + 1) // 2:]
    ratios = [statistics.mean(v[p] for p in late) / statistics.mean(v[p] for p in early)
              for v in by_pass.values() if all(p in v for p in ids)]
    return statistics.median(ratios) if ratios else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under %s/src/main/scala" % ROOT)

    w = WORKLOADS[args.workload]
    key, jvm = build()
    data = data_dir(w["scale"])
    queries = w["queries"]
    exp = expected(key, args.workload, w, data, queries, jvm)
    order = list(queries)
    random.Random(args.seed).shuffle(order)

    print("perfbench: workload=%s seed=%d cores=%d heap=%s seconds=%g trace=%d held_out_seed=%d"
          % (args.workload, args.seed, cores(), HEAP, args.seconds, args.trace, HELD_OUT_SEED))
    print("perfbench: confs=%s" % json.dumps(w["confs"]))
    print("perfbench: queries(%d, pass order)=%s" % (len(order), ",".join(order)))

    box = Sandbox("run")
    try:
        recs = run_client(jvm, client_cfg("run", w, data, order, box, seconds=args.seconds,
                                                trace=args.trace), box, RUN_LIMIT_S)
        tmp_left = box.tmp_left_mb()
    finally:
        box.remove()
    setups = [r["setup_s"] for r in recs if r["kind"] == "setup"]
    setup_failed = 0
    for _ in range(0 if args.trace else SETUPS - 1):
        box = Sandbox("setup")
        try:
            s = [r["setup_s"] for r in run_client(jvm, client_cfg("setup", w, data, [], box), box, 60)
                 if r["kind"] == "setup"]
        finally:
            box.remove()
        setups += s
        setup_failed += not s
    result = reduce(args, order, recs, exp, setups, setup_failed, tmp_left)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def reduce(args, order, recs, exp, setups, setup_failed, tmp_left):
    qrecs = [r for r in recs if r["kind"] == "query"]
    passes = [r for r in recs if r["kind"] == "pass"]
    gate = {r["name"]: r for r in recs if r["kind"] == "gate"}
    end = next((r for r in recs if r["kind"] == "end"), None)
    warm = [p for p in passes if p["pass"] > 0 and not p["traced"]]
    warm_ids = {p["pass"] for p in warm}
    lat = [q["lat_s"] for q in qrecs if q["pass"] in warm_ids and q["ok"]]

    # Every planned query instance the run never reached counts as failed.
    ran = len(qrecs) + len(gate)
    planned = len(order) * max(len(passes), 1) + len(order)
    wrong = [n for n in order if n in gate and gate[n]["ok"] and gate[n]["digest"] != exp["digests"][n]]
    errors = [q for q in qrecs if not q["ok"]] + [g for g in gate.values() if not g["ok"]]
    # A setup-only JVM that did not reach a ready session counts as failed.
    failed = len(errors) + len(wrong) + max(0, planned - ran) + setup_failed
    attempted = max(planned, ran) + (0 if args.trace else SETUPS - 1)
    for e in errors[:10]:
        print("perfbench: FAILED %s pass %s: %s" % (e["name"], e.get("pass", "gate"), e["err"]))
    if setup_failed:
        print("perfbench: FAILED %d setup-only JVMs" % setup_failed)
    for n in wrong:
        print("perfbench: WRONG RESULT %s: %s != expected %s" % (n, gate[n]["digest"], exp["digests"][n]))
    print("perfbench: pass walls (s, pass 0 is cold, * traced): %s" % " ".join(
        "%.3f%s" % (p["wall_s"], "*" if p["traced"] else "") for p in passes))
    oracle_mm = [n for n in exp["oracle_mismatches"] if n in order]
    print("perfbench: failed_frac=%.6f (%d/%d) wrong=%d oracle_checked=%d oracle_mismatches=%d %s"
          % (failed / attempted, failed, attempted, len(wrong), exp["oracle_checked"],
             len(oracle_mm), ",".join(oracle_mm)))
    correct = failed == 0 and end is not None and len(warm) >= 1 and \
        set(oracle_mm) <= ADJUDICATED_ORACLE_MISMATCHES

    if args.trace:
        metrics = per_layer(recs, warm, tmp_left, len(oracle_mm), failed / attempted)
        metrics["drift_ratio"] = (drift(qrecs, warm_ids), "ratio", len(warm))
    else:
        # Emitted also for an incorrect run (which still exits 1), so that
        # ok_frac shows the failed share; the timings need warm passes.
        metrics = {"ok_frac": (1.0 - failed / attempted, "ratio", attempted)}
        if setups:
            metrics["setup_s"] = (statistics.median(setups), "s", len(setups))
        cold = [p["wall_s"] for p in passes if p["pass"] == 0]
        if cold:
            metrics["cold_pass_s"] = (cold[0], "s", 1)
        if lat:
            metrics["pass_s"] = (statistics.median(p["wall_s"] for p in warm), "s", len(warm))
            metrics["latency_p50_s"] = (statistics.median(lat), "s", len(lat))
            metrics["latency_tail_s"] = (tail(lat), "s", len(lat))
            print("perfbench: latency_tail_s is the p%d of %d warm latencies" % (TAIL_PERCENTILE, len(lat)))
        if end:
            metrics["retained_mb"] = (end["heap_mb"], "MB", 1)
            print("perfbench: retained_mb = heap after a forced GC at the end of the run, of it "
                  "block-manager storage %.1f MB" % end["storage_mb"])
    for k, (v, unit, n) in metrics.items():
        print("perfbench: %-22s %14.6f %-6s n=%d" % (k, v, unit, n))
    return dict(correct=bool(correct), attempted=attempted, failed=failed,
                metrics={k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()})


ADJUDICATED_ORACLE_MISMATCHES = {"q222_canary212_rollup_dec", "q223_canary_dec_trailzero"}


# Per-layer metrics of the traced run: (name, unit, layer, source key in the
# client's per-pass sums, divisor). Values are medians over traced warm passes.
LAYERS = [
    ("build_s", "s", "query build", "build_ms", 1e3),
    ("build_jobs", "count", "query build", "build_jobs", 1),
    ("plan_analysis_s", "s", "planning", "plan.analysis_ms", 1e3),
    ("plan_optimize_s", "s", "planning", "plan.optimization_ms", 1e3),
    ("plan_physical_s", "s", "planning", "plan.planning_ms", 1e3),
    ("columnar_rule_s", "s", "planning", "columnar_rule_ms", 1e3),
    ("aqe_replans", "count", "planning", "aqe_replans", 1),
    ("fallback_nodes", "count", "planning", "fallback_nodes", 1),
    ("codegen_compiles", "count", "codegen", "codegen_compiles", 1),
    ("codegen_compile_s", "s", "codegen", "codegen_compile_ms", 1e3),
    ("jobs", "count", "scheduling", "jobs", 1),
    ("stages", "count", "scheduling", "stages", 1),
    ("tasks", "count", "scheduling", "tasks", 1),
    ("sched_delay_s", "s", "scheduling", "sched_delay_ms", 1e3),
    ("task_deser_s", "s", "scheduling", "task_deser_ms", 1e3),
    ("driver_gap_s", "s", "scheduling", "driver_gap_ms", 1e3),
    ("task_run_s", "s", "operators", "task_run_ms", 1e3),
    ("task_cpu_s", "s", "operators", "task_cpu_ns", 1e9),
    ("core_util", "ratio", "operators", "core_util", 1),
    ("scan_mb", "MB", "operators", "scan_bytes", MIB),
    ("shuffle_write_mb", "MB", "shuffle", "shuffle_write_bytes", MIB),
    ("shuffle_read_mb", "MB", "shuffle", "shuffle_read_bytes", MIB),
    ("shuffle_write_s", "s", "shuffle", "shuffle_write_ns", 1e9),
    ("shuffle_fetch_wait_s", "s", "shuffle", "shuffle_fetch_wait_ms", 1e3),
    ("spill_mem_mb", "MB", "memory", "spill_mem_bytes", MIB),
    ("spill_disk_mb", "MB", "memory", "spill_disk_bytes", MIB),
    ("graft_spill_mb", "MB", "memory", "graft_spill_bytes", MIB),
    ("peak_exec_mem_mb", "MB", "memory", "peak_exec_mem_bytes", MIB),
    ("gc_s", "s", "jvm", "gc_ms", 1e3),
    ("gc_count", "count", "jvm", "gc_count", 1),
    ("output_mb", "MB", "write path", "output_bytes", MIB),
]
# Spans of the trace tree, as (span, its total key, its self-time key).
SPANS = [("query", "wall_ms", None), ("  build", "build_ms", "build_self_ms"),
         ("  action", "action_ms", "driver_gap_ms"), ("    plan.*", "plan_ms", "plan_ms"),
         ("    job", "job_ms", "job_self_ms")]


def per_layer(recs, warm, tmp_left, oracle_mm, failed_frac):
    layers = [r for r in recs if r["kind"] == "layers"]
    if not layers:
        return {}
    wl = [{k: float(v) for k, v in l["values"].items()} for l in layers if l["pass"] > 0]
    cold = next({k: float(v) for k, v in l["values"].items()} for l in layers if l["pass"] == 0)
    traced_walls = [l["pass_wall_ms"] / 1e3 for l in wl]

    def med(key, div=1):
        return statistics.median(l.get(key, 0.0) for l in wl) / div

    def share(num, den):
        return statistics.median(l.get(num, 0.0) / l[den] if l.get(den) else 0.0 for l in wl)

    m = {name: (med(key, div), unit) for name, unit, _, key, div in LAYERS}
    m["columnar_node_share"] = (share("graft_nodes", "plan_nodes"), "ratio")
    m["graft_rows_share"] = (share("graft_rows_out", "rows_out"), "ratio")
    m["cold_codegen_compiles"] = (cold.get("codegen_compiles", 0.0), "count")
    m["cold_codegen_compile_s"] = (cold.get("codegen_compile_ms", 0.0) / 1e3, "s")
    passes = [p for p in recs if p["kind"] == "pass" and p["pass"] > 0]
    m["storage_used_mb"] = (statistics.median(p["storage_mb"] for p in passes), "MB")
    m["rdd_blocks"] = (statistics.median(p["rdd_blocks"] for p in passes), "count")
    end = next((r for r in recs if r["kind"] == "end"), {})
    m["heap_after_gc_mb"] = (end.get("heap_mb", 0.0), "MB")
    m["retained_delta_mb"] = (end.get("retained_delta_mb", 0.0), "MB")
    m["tmp_left_mb"] = (tmp_left, "MB")
    m["oracle_mismatches"] = (float(oracle_mm), "count")
    m["failed_frac"] = (failed_frac, "ratio")
    untraced = [p["wall_s"] for p in warm]
    wall = {p["pass"]: p["wall_s"] for p in passes}
    ratios = [wall[k] / ((wall[k - 1] + wall[k + 1]) / 2) for k in wall
              if k > 0 and k % 2 == 0 and k - 1 in wall and k + 1 in wall]
    m["trace_overhead"] = (statistics.median(ratios) if ratios else 0.0, "ratio")

    print("perfbench: per-layer table (medians over %d traced warm passes; cold pass in brackets)"
          % len(wl))
    for name, unit, layer, key, div in LAYERS:
        print("perfbench:   %-11s %-22s %12.4f %-5s [%.4f]"
              % (layer, name, m[name][0], unit, cold.get(key, 0.0) / div))
    print("perfbench: spans per pass          total_s      self_s")
    for span, tot, self_key in SPANS:
        print("perfbench:   %-16s %12.4f %12.4f" % (span, med(tot, 1e3), med(self_key, 1e3) if self_key else 0.0))
    outside_ms = sum(l.get("span_outside_ms", 0.0) for l in wl) + cold.get("span_outside_ms", 0.0)
    outside_n = sum(l.get("spans_outside", 0.0) for l in wl) + cold.get("spans_outside", 0.0)
    print("perfbench: span check: per query, build + plan + jobs + driver_gap = wall by "
          "construction; children outside their parent: %d spans, %.1f ms over %d traced passes"
          % (outside_n, outside_ms, len(layers)))
    if outside_n:
        print("perfbench: WARNING: %d spans lie outside their parent; the clipped split above "
              "misattributes %.1f ms of them" % (outside_n, outside_ms))
    print("perfbench: tracing overhead: median over %d traced warm passes of the pass wall over "
          "the mean of its untraced neighbours = %.4f (traced pass_s %.4f, untraced pass_s %.4f)"
          % (len(ratios), m["trace_overhead"][0], statistics.median(traced_walls),
             statistics.median(untraced) if untraced else 0.0))
    return {k: (v, u, len(wl)) for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
