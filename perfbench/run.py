#!/usr/bin/env python3
"""The repository's benchmark: BAG import, BAG export and a query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload bag_import --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

  bag_import  One import as the ImportBag CLI runs it: a fresh JVM per
              import, Pipeline.importBag on a synthetic LVBAG extract, then
              Validate.run at the thresholds BagScaleProbe derives.
  query_mix   One warm session serving the five Pipeline.export variants
              over a BAG warehouse the code under test imported, and a fixed
              set of Queries.all entries over the vendored testdata, forced
              through the noop sink as Bench does.

The seed sets the order of the export variants and queries in each pass.
The extract (index-derived) and the testdata (generated with seed 42) do
not depend on it.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics, from spans this benchmark
records around its own calls into each layer plus a SparkListener it
registers. A traced run alternates traced and untraced passes and reports
its own overhead.

Every run writes a full record (samples, loadavg, nproc, cores, -Xmx,
commit, Spark confs) to perfbench/results/. Builds go to perfbench/target
and perfbench/.build, scratch data to perfbench/.work, reusable inputs to
perfbench/.cache.

The program is compiled from the checkout's src/main/scala by the
benchmark's own sbt build (perfbench/build.sbt); a directory without the
program's sources makes the run fail before it prints a result. The first
run after a source change also imports query_mix's warehouse with the
program it just built, once, outside every timed window.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
RESULTS = os.path.join(HERE, "results")

#: A failed operation counts as taking this long, the per-run time limit,
#: so a failure can never read as a fast run.
FAIL_PENALTY_S = 180.0
#: Wall budget of one run; child JVMs are killed past it.
RUN_BUDGET_S = 170.0
#: Wall budget of building the export warehouse (first run in a checkout).
BUILD_BUDGET_S = 600.0
XMX = "3g"
CORES = min(4, os.cpu_count() or 1)

#: Extract sizes (addresses). n must be a multiple of 600; from 24000 on the
#: extract carries the planted golden-check rows, so Validate runs every check.
IMPORT_N = {"full": 144000, "smoke": 600}
EXPORT_N = {"full": 192000, "smoke": 600}
SF = {"full": "sf0.01", "smoke": "sf0.001"}
#: Set-up repetitions per run: extract generations (bag_import), warehouse
#: scans (query_mix).
GENERATE_REPS = {"full": 5, "smoke": 1}
WARM_REPS = {"full": 3, "smoke": 1}

#: query -> family, the query_mix set.
QUERIES = {
    "d07_dedup_components": "dedup",
    "x26_assortativity": "graph",
    "x45_coreset": "vector",
    "t35_boilerplate": "text",
    "j01_join_5way": "relational",
}
SMOKE_QUERIES = {"s05_scan_project": "relational", "j01_join_5way": "relational"}
FAMILIES = ["graph", "dedup", "vector", "text", "relational"]
VARIANTS = ["postcode", "all", "pc4", "pc5", "pc6"]
RAW_TABLES = ["nummers", "verblijfsobjecten", "panden", "openbare_ruimten"]
MB = 1048576.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ------------------------------------------------------------------ build
def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compile program + benchmark once per source state; return classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{src_hash}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    log("building program and benchmark with sbt")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        with open(os.path.join(BUILD, "sbt.log"), "a") as out:
            out.write(p.stdout)
        raise RuntimeError("sbt build failed, see perfbench/.build/sbt.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def warehouse_dir(src_hash, n):
    return os.path.join(CACHE, f"export-warehouse-{src_hash}-{n}")


def build_warehouse(classpath, src_hash, n):
    """Import query_mix's n-address warehouse with the code under test, once
    per source state, as part of the build (it is not timed by any run)."""
    warehouse = warehouse_dir(src_hash, n)
    if os.path.exists(os.path.join(warehouse, "_PERFBENCH_COMPLETE")):
        return
    for old in glob.glob(os.path.join(CACHE, "export-warehouse-*")):
        if not os.path.basename(old).startswith(f"export-warehouse-{src_hash}-"):
            shutil.rmtree(old, ignore_errors=True)
    log(f"building the {n}-address export warehouse")
    work = os.path.join(WORK, f"warehouse-{n}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec, _ = Jvm(classpath, time.monotonic() + BUILD_BUDGET_S).run(
            "warehouse", work, work=work, warehouse=warehouse, n=n)
    finally:
        os.makedirs(os.path.join(RESULTS, "logs"), exist_ok=True)
        if os.path.exists(os.path.join(work, "warehouse.log")):
            shutil.copy(os.path.join(work, "warehouse.log"), os.path.join(RESULTS, "logs"))
        shutil.rmtree(work, ignore_errors=True)
    if rec is None:
        raise RuntimeError("export warehouse build failed")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# -------------------------------------------------------------------- jvm
class Jvm:
    """Runs perfbench.PerfMain modes in child JVMs within the run budget."""

    def __init__(self, classpath, deadline):
        self.classpath = classpath
        self.deadline = deadline
        opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar"]
        self.flags = [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

    def run(self, mode, rundir, **kv):
        tmp = os.path.join(rundir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", *self.flags, f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", "-cp", self.classpath,
               "perfbench.PerfMain", mode, f"cores={CORES}"] + [f"{k}={v}" for k, v in kv.items()]
        t0 = time.monotonic()
        with open(os.path.join(rundir, f"{mode}.log"), "a") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                 start_new_session=True)
            try:
                out, _ = p.communicate(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                log(f"{mode} JVM killed at the run budget")
                return None, time.monotonic() - t0
            finally:
                if p.poll() is None:  # timed out or interrupted: stop the JVM, then wait
                    os.killpg(p.pid, signal.SIGKILL)
                    p.communicate()
        wall = time.monotonic() - t0
        rec = None
        for line in out.splitlines():
            if line.startswith("PERFBENCH "):
                rec = json.loads(line[len("PERFBENCH "):])
        if p.returncode != 0 or rec is None:
            log(f"{mode} JVM exited {p.returncode}, see perfbench/results/logs")
            return None, wall
        return rec, wall


# --------------------------------------------------------------- counters
def span_metrics(spans, name):
    """Median over the traced instances of span `name` of each counter.

    A span that submitted no Spark job has wall time and zero counters."""
    inst = [s for s in spans if s["name"] == name and s["traced"]]
    if not inst:
        return {}
    keys = {k for s in inst for k in (s["counters"] or {})}
    out = {k: median([(s["counters"] or {}).get(k, 0.0) for s in inst]) for k in keys}
    out["wall_s"] = median([s["wall_s"] for s in inst])
    out["core_idle_s"] = max(0.0, median(
        [s["wall_s"] * CORES - (s["counters"] or {}).get("exec_run_s", 0.0) for s in inst]))
    return out


def per_layer_names():
    names = ["ingest.stage.wall_s", "ingest.stage.output_mb"]
    names += [f"ingest.raw.{m}" for m in ["wall_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
                                         "core_idle_s", "input_mb", "output_mb", "rows_in",
                                         "rows_out", "keep_ratio"]]
    names += [f"ingest.raw.{t}.exec_run_s" for t in RAW_TABLES]
    names += [f"curate.{m}" for m in ["wall_s", "jobs", "stages", "exec_run_s",
                                      "core_idle_s", "shuffle_write_mb", "shuffle_read_mb",
                                      "spill_mb", "output_mb"]]
    names += [f"validate.{m}" for m in ["wall_s", "jobs", "core_idle_s", "checks",
                                        "checks_failed"]]
    names += [f"export.{v}.wall_s" for v in VARIANTS]
    names += [f"export.{m}" for m in ["jobs", "exec_run_s", "core_idle_s",
                                      "shuffle_write_mb", "input_mb", "output_mb", "rows_out"]]
    for q in QUERIES:
        names += [f"query.{q}.wall_s", f"query.{q}.jobs"]
    for f in FAMILIES:
        names += [f"query.{f}.exec_cpu_s", f"query.{f}.core_idle_s",
                  f"query.{f}.shuffle_write_mb"]
    names += ["session.start_s", "session.release_s", "jvm.gc_s", "jvm.heap_peak_mb",
              "trace.overhead_pct"]
    return names


def layer_unit(name):
    for suffix, unit in [("_s", "s"), ("_mb", "MB"), ("_pct", "%"), ("_ratio", "ratio")]:
        if name.endswith(suffix):
            return unit
    return "count"


# -------------------------------------------------------------- workloads
class Run:
    """Samples and outcomes of one benchmark run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []
        self.e2e = {}
        self.layer = {}
        self.record = {}

    def outcome(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def bag_import(args, jvm, run, work):
    n = IMPORT_N[args.scale]
    extract = os.path.join(work, "extract")
    gen, _ = jvm.run("generate", work, dir=extract, n=n, reps=GENERATE_REPS[args.scale])
    if gen is None:
        raise RuntimeError("extract generation failed")
    run.e2e["setup_s"] = median(gen["generate_s"])
    samples = []
    t0 = time.monotonic()
    while not samples or time.monotonic() - t0 < args.seconds or \
            (args.trace and len(samples) < 2):
        traced = args.trace and len(samples) % 2 == 0
        iw = os.path.join(work, f"import{len(samples)}")
        rec, wall = jvm.run("import", iw, zip=os.path.join(extract, "bag_synth.zip"),
                            csv=os.path.join(extract, "gemeenten.csv"), work=iw, n=n,
                            trace=int(traced))
        ok = (rec is not None and rec["checks_failed"] == 0
              and rec["adressen"] == rec["expected_adressen"])
        run.outcome(ok, f"import {len(samples)}: " + (
            "JVM failed" if rec is None else
            f"adressen {rec['adressen']} of {rec['expected_adressen']}, "
            f"{rec['checks_failed']} checks failed"))
        samples.append({"ok": ok, "traced": traced, "wall_s": wall, "rec": rec})
        shutil.rmtree(iw, ignore_errors=True)
        if time.monotonic() > jvm.deadline - 60:
            break
    plain = [s for s in samples if not s["traced"]] or samples
    good = [s for s in plain if s["ok"]]
    run.e2e["run_s"] = median([s["wall_s"] if s["ok"] else max(s["wall_s"], FAIL_PENALTY_S)
                               for s in plain])
    run.e2e["op_geomean_s"] = geomean([
        median([s["rec"]["import_s"] if s["ok"] else FAIL_PENALTY_S for s in plain]),
        median([s["rec"]["validate_s"] if s["ok"] else FAIL_PENALTY_S for s in plain])])
    run.e2e["rows_per_s"] = median([s["rec"]["adressen"] / s["rec"]["import_s"]
                                    if s["ok"] else 0.0 for s in plain])
    run.e2e["peak_heap_mb"] = median(
        [s["rec"]["live_heap_peak_mb"] for s in good]) if good else 0.0
    run.e2e["store_bytes_per_row"] = median(
        [s["rec"]["store_bytes"] / s["rec"]["adressen"] for s in good]) if good else 0.0
    run.record.update(n=n, generate_s=gen["generate_s"], zip_bytes=gen["zip_bytes"],
                      samples=[{k: v for k, v in s.items() if k != "rec"} |
                               {"import_s": (s["rec"] or {}).get("import_s"),
                                "validate_s": (s["rec"] or {}).get("validate_s"),
                                "session_start_s": (s["rec"] or {}).get("session_start_s"),
                                "peak_rss_mb": (s["rec"] or {}).get("peak_rss_mb")}
                               for s in samples],
                      confs=next((s["rec"]["confs"] for s in samples if s["rec"]), {}))
    traced = [s for s in samples if s["traced"] and s["rec"]]
    if traced:
        spans = [sp for s in traced for sp in s["rec"]["spans"]]
        st = span_metrics(spans, "ingest.stage")
        run.layer["ingest.stage.wall_s"] = st.get("wall_s", 0.0)
        run.layer["ingest.stage.output_mb"] = median(
            [s["rec"]["staged_bytes"] for s in traced]) / MB
        raw = span_metrics(spans, "ingest.raw")
        for m in ["wall_s", "jobs", "tasks", "exec_cpu_s", "gc_s", "core_idle_s",
                  "rows_in", "rows_out"]:
            run.layer[f"ingest.raw.{m}"] = raw.get(m, 0.0)
        run.layer["ingest.raw.input_mb"] = raw.get("input_bytes", 0.0) / MB
        run.layer["ingest.raw.output_mb"] = raw.get("output_bytes", 0.0) / MB
        run.layer["ingest.raw.keep_ratio"] = (raw["rows_out"] / raw["rows_in"]
                                              if raw.get("rows_in") else 0.0)
        for t in RAW_TABLES:
            run.layer[f"ingest.raw.{t}.exec_run_s"] = span_metrics(
                spans, f"ingest.raw/{t}").get("exec_run_s", 0.0)
        cu = span_metrics(spans, "curate")
        for m in ["wall_s", "jobs", "stages", "exec_run_s", "core_idle_s"]:
            run.layer[f"curate.{m}"] = cu.get(m, 0.0)
        for m in ["shuffle_write", "shuffle_read", "spill", "output"]:
            run.layer[f"curate.{m}_mb"] = cu.get(f"{m}_bytes", 0.0) / MB
        va = span_metrics(spans, "validate")
        for m in ["wall_s", "jobs", "core_idle_s"]:
            run.layer[f"validate.{m}"] = va.get(m, 0.0)
        run.layer["validate.checks"] = median([s["rec"]["checks"] for s in traced])
        run.layer["validate.checks_failed"] = median([s["rec"]["checks_failed"] for s in traced])
        run.layer["session.start_s"] = median([s["rec"]["session_start_s"] for s in traced])
        run.layer["jvm.gc_s"] = median([s["rec"]["gc_s"] for s in traced])
        run.layer["jvm.heap_peak_mb"] = median([s["rec"]["live_heap_peak_mb"] for s in traced])
        untraced = [s["wall_s"] for s in samples if not s["traced"] and s["ok"]]
        traced_w = [s["wall_s"] for s in traced if s["ok"]]
        if untraced and traced_w:
            run.layer["trace.overhead_pct"] = 100.0 * (median(traced_w) / median(untraced) - 1)


def query_mix(args, jvm, run, work, src_hash):
    import oracle  # reads tools/check_oracle.py, so only once the checkout is known good
    n = EXPORT_N[args.scale]
    queries = QUERIES if args.scale == "full" else SMOKE_QUERIES
    variants = list(VARIANTS) + (["no_such_variant"] if args.inject_failure == "throw" else [])
    sf = os.path.join(HERE, "data", SF[args.scale])
    warehouse = warehouse_dir(src_hash, n)
    rec, _ = jvm.run("mix", work, work=work, sf=sf, warehouse=warehouse,
                     variants=",".join(variants), queries=",".join(queries), seed=args.seed,
                     seconds=args.seconds, trace=int(args.trace),
                     setup_reps=WARM_REPS[args.scale])
    if rec is None:
        raise RuntimeError("query_mix JVM failed")
    if args.inject_failure == "wrong":  # check each query against another's oracle
        sql = rec["oracle_sql"]
        sql.update(zip(sql, list(sql.values())[1:] + list(sql.values())[:1]))
    run.e2e["setup_s"] = rec["session_start_s"] + median(rec["setup_s"])
    passes = rec["passes"]
    for p in passes:
        for o in p["ops"]:
            run.outcome(o["ok"], f"{o['op']} threw")

    # Output checks. Each query was checked on its own untimed execution,
    # each export on its last timed pass; an export that threw there was
    # counted above and has no output to check.
    wrong, out_bytes, out_rows = set(), 0, 0
    last = {o["op"]: o["ok"] for o in passes[-1]["ops"] if o["op"].startswith("export.")}
    for name, ok in sorted((rec["check"] | last).items()):
        if not ok:
            wrong.add(name)
            if name in last:
                continue
        msg = "threw"
        out = os.path.join(work, "check" if name.startswith("query.") else "pass", name)
        if ok:
            try:
                kind, what = name.split(".", 1)
                if kind == "export":
                    rows, nbytes, msg = oracle.check_export(warehouse, what, out)
                else:
                    rows, nbytes, msg = oracle.check_query(
                        sf, rec["oracle_sql"][what], out, os.path.join(CACHE, "oracle"))
                ok = msg is None
            except Exception as e:  # an unreadable output is a wrong output
                ok, msg = False, str(e)
            if ok:
                out_rows += rows
                out_bytes += nbytes
            else:
                wrong.add(name)
        run.outcome(ok, f"{name}: {msg}")

    # A thrown or wrong operation counts as taking FAIL_PENALTY_S in every
    # pass, so a failure never reads as a fast operation.
    def op_s(o):
        return o["s"] if o["ok"] and o["op"] not in wrong else max(o["s"], FAIL_PENALTY_S)

    def wall(p):
        return sum(op_s(o) for o in p["ops"])
    plain = [p for p in passes if not p["traced"]] or passes
    run.e2e["run_s"] = median([wall(p) for p in plain])
    per_op = {}
    for p in plain:
        for o in p["ops"]:
            per_op.setdefault(o["op"], []).append(op_s(o))
    run.e2e["op_geomean_s"] = geomean([median(v) for v in per_op.values()])
    run.e2e["rows_per_s"] = out_rows / run.e2e["run_s"] if run.e2e["run_s"] else 0.0
    run.e2e["peak_heap_mb"] = rec["live_heap_peak_mb"]
    run.e2e["store_bytes_per_row"] = out_bytes / out_rows if out_rows else 0.0
    run.record.update(n=n, sf=SF[args.scale], queries=queries, variants=variants,
                      adressen=rec["adressen"],
                      setup_reps_s=rec["setup_s"], session_start_s=rec["session_start_s"],
                      check_pass_s=rec["check_s"],
                      output_rows=out_rows, passes=passes,
                      peak_rss_mb=rec["peak_rss_mb"], wrong=sorted(wrong), confs=rec["confs"])
    if not args.trace:
        return
    spans = rec["spans"]
    for v in VARIANTS:
        run.layer[f"export.{v}.wall_s"] = span_metrics(spans, f"export.{v}").get("wall_s", 0.0)
    sums = {}
    for v in VARIANTS:
        sm = span_metrics(spans, f"export.{v}")
        for k in ["jobs", "exec_run_s", "core_idle_s", "shuffle_write_bytes", "input_bytes",
                  "output_bytes", "rows_out"]:
            sums[k] = sums.get(k, 0.0) + sm.get(k, 0.0)
    for k in ["jobs", "exec_run_s", "core_idle_s", "rows_out"]:
        run.layer[f"export.{k}"] = sums[k]
    for k in ["shuffle_write", "input", "output"]:
        run.layer[f"export.{k}_mb"] = sums[f"{k}_bytes"] / MB
    fam = {}
    for q, f in queries.items():
        sm = span_metrics(spans, f"query.{q}")
        run.layer[f"query.{q}.wall_s"] = sm.get("wall_s", 0.0)
        run.layer[f"query.{q}.jobs"] = sm.get("jobs", 0.0)
        acc = fam.setdefault(f, [0.0, 0.0, 0.0])
        acc[0] += sm.get("exec_cpu_s", 0.0)
        acc[1] += sm.get("core_idle_s", 0.0)
        acc[2] += sm.get("shuffle_write_bytes", 0.0)
    for f, (cpu, idle, sw) in fam.items():
        run.layer[f"query.{f}.exec_cpu_s"] = cpu
        run.layer[f"query.{f}.core_idle_s"] = idle
        run.layer[f"query.{f}.shuffle_write_mb"] = sw / MB
    traced = [p for p in passes if p["traced"]]
    run.layer["session.release_s"] = median(
        [sum(o["release_s"] for o in p["ops"]) for p in traced])
    run.layer["jvm.gc_s"] = rec["gc_s"]
    run.layer["jvm.heap_peak_mb"] = rec["live_heap_peak_mb"]
    untraced = [wall(p) for p in passes if not p["traced"]]
    if traced and untraced:
        run.layer["trace.overhead_pct"] = 100.0 * (median([wall(p) for p in traced]) /
                                                   median(untraced) - 1)


WORKLOADS = {"bag_import", "query_mix"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full",
                    help="smoke: tiny inputs for the benchmark's own test")
    ap.add_argument("--inject-failure", choices=["throw", "wrong"],
                    help="query_mix only: add an unknown export variant, which throws "
                         "(throw), or check each query against another one's oracle (wrong)")
    args = ap.parse_args()
    # a terminated benchmark unwinds, so the JVM it is waiting on is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no program sources under {ROOT}/src/main/scala; nothing to build")
        return 2
    load_start = loadavg()
    src_hash = source_hash()
    classpath = build(src_hash)
    build_warehouse(classpath, src_hash, EXPORT_N[args.scale])
    run_start = time.monotonic()
    jvm = Jvm(classpath, run_start + RUN_BUDGET_S)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(CACHE, exist_ok=True)
    run = Run()
    try:
        if args.workload == "bag_import":
            bag_import(args, jvm, run, work)
        else:
            query_mix(args, jvm, run, work, src_hash)
    finally:
        logs = os.path.join(RESULTS, "logs", args.workload)
        shutil.rmtree(logs, ignore_errors=True)
        os.makedirs(logs)
        for f in glob.glob(os.path.join(work, "**", "*.log"), recursive=True):
            shutil.copy(f, os.path.join(logs, os.path.relpath(f, work).replace("/", "_")))
        shutil.rmtree(work, ignore_errors=True)
    run.e2e["success_rate"] = (run.attempted - run.failed) / run.attempted \
        if run.attempted else 0.0
    units = {"setup_s": "s", "run_s": "s", "op_geomean_s": "s", "rows_per_s": "1/s",
             "peak_heap_mb": "MB", "store_bytes_per_row": "B", "success_rate": "ratio"}
    if args.trace:
        metrics = {name: {"value": float(run.layer.get(name, 0.0)), "unit": layer_unit(name)}
                   for name in per_layer_names()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in units.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "env": {"loadavg_start": load_start, "loadavg_end": loadavg(),
                "nproc": os.cpu_count(), "cores": CORES, "xmx": XMX,
                "git_commit": git_commit(), "source_hash": src_hash,
                "build_s": run_start - start},
        "attempted": run.attempted, "failed": run.failed, "failures": run.notes,
        "end_to_end": run.e2e, "per_layer": run.layer, **run.record,
    }
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for msg in run.notes:
        log(f"FAILED {msg}")
    log(f"{args.workload}: {run.attempted} operations, {run.failed} failed, "
        f"loadavg {load_start} -> {record['env']['loadavg_end']}, record {path}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
