#!/usr/bin/env python3
"""End-to-end benchmark of the ingestion / curation engine.

    python3 perfbench/run.py --workload <ingest|curate|adhoc>
        --seed N --seconds S --trace <0|1> [--smoke]

Run from the root of a checkout.  The first run compiles the engine
(`src/main/scala`) and the benchmark's JVM side (`perfbench/scala`) with
scalac against the Spark jars under $SPARK_HOME/jars into `.bench_build/`;
later runs reuse the build while the sources are unchanged.  Inputs are
generated from the seed (perfbench/gen.py) out of the sf fixtures in
`$PERFBENCH_TESTDATA` (default `~/testdata`) and cached under
`.bench_work/`, as are the DuckDB oracle digests the outputs are checked
against.

Standard output: one `name value unit` line per metric and diagnostic,
then, as the last line, one JSON object
`{"correct", "attempted", "failed", "metrics"}` holding the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).  The exit
code is 0 only when every output checked out.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SETUP_CYCLES = 3
JVM_HEAP = "4g"
DEADLINE_S = 175  # a run (build excluded) must end within 180 s
# A timed window of --seconds S holds round(S / nominal unit length) units
# (at least one). A fixed count, not "until S have passed": a run's medians
# then cover the same work however fast the host is.
NOMINAL_UNIT_S = {"ingest": 5, "curate": 5, "adhoc": 7}
# Untimed units before the window: the first units run slow while the JIT
# compiles the hot paths.
WARM_UNITS = 2

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("latency_p50_ms", "ms")]
PER_LAYER_UNITS = {
    "config.parse_s": "s", "sources.discover_cold_s": "s",
    "sources.discover_incr_s": "s", "sources.files_discovered": "count",
    "sources.ledger_read_s": "s", "sources.ledger_touch_s": "s",
    "sources.ledger_touches": "count", "sources.skip_ratio": "ratio",
    "transforms.plan_s": "s", "transforms.exec_s": "s",
    "plans.sink_write_s": "s", "plans.sink_bytes": "bytes",
    "plans.sink_files": "count", "plans.groups": "count",
    "plans.freshness_s": "s", "plans.storage_ratio": "bytes/byte",
    "operators.plan_s": "s", "operators.exec_s": "s",
    "functions.codegen_fallback_exprs": "count", "functions.wscg_stages": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.driver_gap_s": "s",
    "spark.slot_busy_ratio": "ratio", "spark.task_wait_s": "s",
    "spark.task_failures": "count", "spark.storage_peak_bytes": "bytes",
    "host.probe_s": "s",
}


class Failure(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise Failure("no Spark jars with a Scala compiler found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise Failure("no java found: set JAVA_HOME")
    return exe


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise Failure(f"engine sources not found under {main}")
    files = []
    for top in (main, os.path.join(HERE, "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def jvm_opens():
    return [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def build():
    """Compile the engine and the benchmark once per source state; returns
    (classpath, class-data-sharing archive or None)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    jsa = os.path.join(BUILD, "perfbench.jsa")
    stamp_file = os.path.join(BUILD, "STAMP")
    cp = f"{jar}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, (jsa if os.path.exists(jsa) else None)
    log(f"compiling {len(files)} Scala sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    t0 = time.time()

    def step(what, cmd, **kw):
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, **kw)
        if r.returncode != 0:
            shutil.rmtree(BUILD, ignore_errors=True)
            raise Failure(f"{what} failed:\n" + r.stdout[-4000:])

    step("compilation", [java(), "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                         "-usejavacp", "-nowarn", "-d", classes, "@" + argfile])
    step("packaging", [os.path.join(os.path.dirname(java()), "jar"), "cf", jar, "-C", classes, "."])
    shutil.rmtree(classes)
    step("oracle SQL dump", [java(), "-cp", cp, "graft.perfbench.Main", "--oracle-sql",
                             os.path.join(BUILD, "oracle_sql.json")])
    # A class-data-sharing archive of what a session start loads: the
    # JVM start of every run then maps those classes instead of loading
    # them (about half of a cold start on a 4-core host).
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp)
    r = subprocess.run([java(), *jvm_opens(), f"-Xmx{JVM_HEAP}", f"-XX:ArchiveClassesAtExit={jsa}",
                        "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                        "graft.perfbench.Main", "--session-start", tmp],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(jsa):
        log("no class-data-sharing archive (runs start without one)")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp, (jsa if os.path.exists(jsa) else None)


# --------------------------------------------------------------- measures

def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    return s[n - 11], 100.0 * (n - 10) / n, n


def self_times(spans_file):
    """Self time per layer: each span's duration minus the part of it that
    its child spans cover."""
    with open(spans_file) as f:
        spans = [json.loads(line) for line in f]
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        a0, a1 = sp["start_ms"], sp["end_ms"]
        covered, end = 0.0, a0
        for c in sorted(children.get(sp["id"], []), key=lambda c: c["start_ms"]):
            b0, b1 = max(c["start_ms"], end), min(c["end_ms"], a1)
            if b1 > b0:
                covered += b1 - b0
                end = b1
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + (a1 - a0 - covered) / 1000
    return out


# ----------------------------------------------------------------- checks

def check_queries(res, expected):
    problems = []
    got = res.get("digests", {})
    for q, want in expected.items():
        have = got.get(q, [])
        if have != [want]:
            problems.append(f"{q}: digest {have} != oracle {want}")
    return problems


def check_ingest(res, manifest):
    exp = manifest["expect"]
    files_cold = set(exp["files_cold"])
    files_incr = {dest for _, dest in exp["files_incr"]}
    decoys = set(exp["decoys"])
    problems = []
    units = res["warm_units"] + res.get("units", []) + res.get("traced_units", [])
    for i, u in enumerate(units):
        where = f"unit {i}"
        needed = ("cold", "incr", "rerun") if i == 0 else ("cold", "incr")
        missing = [k for k in needed if k not in u]
        if missing:
            problems.append(f"{where}: {', '.join(missing)} run did not complete")
            continue
        cold, incr = u["cold"], u["incr"]
        rerun = u.get("rerun", {"ingested": []})
        if cold["rows"] != exp["rows_cold"] or incr["rows"] != exp["rows_incr"]:
            problems.append(f"{where}: rows written {cold['rows']}+{incr['rows']}"
                            f" != {exp['rows_cold']}+{exp['rows_incr']}")
        if set(cold["ingested"]) != files_cold or len(cold["ingested"]) != len(files_cold):
            problems.append(f"{where}: cold run ingested {len(cold['ingested'])} files,"
                            f" expected {len(files_cold)}")
        if set(incr["ingested"]) != files_incr:
            problems.append(f"{where}: incremental run ingested {len(incr['ingested'])}"
                            f" files, expected {len(files_incr)}")
        ingested = set(cold["ingested"]) | set(incr["ingested"]) | set(rerun["ingested"])
        if ingested & decoys:
            problems.append(f"{where}: decoys ingested: {sorted(ingested & decoys)[:3]}")
        if rerun["ingested"]:
            problems.append(f"{where}: idempotent re-run ingested {len(rerun['ingested'])} files")
        if sorted(u.get("stale", [])) != exp["stale"]:
            problems.append(f"{where}: stale {u.get('stale')} != {exp['stale']}")
    last = units[-1]
    if "sink" in last and not problems:
        problems += check_sink(last, manifest, files_cold | files_incr)
    return problems


def check_sink(unit, manifest, ingested):
    """Reads the last unit's sink and ledger independently of Spark."""
    problems = []
    with open(unit["ledger"]) as f:
        sources_ = [line.split("\t")[0] for line in f if line.strip()]
    if len(sources_) != len(ingested) or set(sources_) != ingested:
        problems.append(f"ledger holds {len(sources_)} entries for {len(ingested)} ingested files")
    con = duckdb.connect()
    for target, t in manifest["expect"]["tables"].items():
        path = os.path.join(unit["sink"], target, "*.parquet")
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
        if cols != t["columns"]:
            problems.append(f"{target}: columns {cols} != config {t['columns']}")
            continue
        n = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        if n != t["rows"]:
            problems.append(f"{target}: {n} rows != {t['rows']}")
        for c, want in t["nulls"].items():
            got = con.execute(f'SELECT count(*) FILTER (WHERE "{c}" IS NULL) FROM \'{path}\'').fetchone()[0]
            if got != (n if want == "all" else want):
                problems.append(f"{target}.{c}: {got} NULLs, planted {want}")
    con.close()
    return problems


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "curate", "adhoc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs and short query lists (the benchmark's own tests)")
    a = ap.parse_args()
    t_start = time.time()
    try:
        cp, jsa = build()
        t_built = time.time()
        with open(os.path.join(BUILD, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        scale = "smoke" if a.smoke else "full"
        testdata = os.environ.get("PERFBENCH_TESTDATA") or os.path.join(os.path.expanduser("~"), "testdata")
        if not os.path.isdir(testdata):
            raise Failure(f"fixture directory {testdata} not found: set PERFBENCH_TESTDATA")
        manifest = gen.generate(a.workload, scale, a.seed, testdata, WORK)
        run_dir = os.path.join(WORK, "runs", f"{a.workload}-{scale}-s{a.seed}-t{a.trace}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        cpus = len(os.sched_getaffinity(0))
        spec = {"workload": a.workload, "seed": a.seed,
                "units": max(1, round(a.seconds / NOMINAL_UNIT_S[a.workload])),
                "warm_units": 1 if a.smoke else WARM_UNITS,
                "trace": bool(a.trace), "cpus": cpus, "work": run_dir,
                "setup_cycles": SETUP_CYCLES,
                "result": os.path.join(run_dir, "result.json")}
        expected = {}
        if a.workload == "ingest":
            cfg_path = os.path.join(run_dir, "ingestion_config.json")
            with open(cfg_path, "w") as f:
                json.dump({"environments": manifest["environments"],
                           "ingestion_date": manifest["ingestion_date"],
                           "data_folder": manifest["data_root"]}, f)
            spec.update(tables_json=manifest["tables_json"],
                        ingestion_config_json=cfg_path,
                        next_day=manifest["expect"]["files_incr"],
                        freshness=manifest["freshness"])
        else:
            # curate: the seed's generated corpus; adhoc: the fixtures
            # themselves, so its oracle cache serves every seed
            queries = manifest["queries"]
            spec.update(sf_dir=manifest["sf_dir"], queries=queries,
                        clients=manifest["clients"])
            cache = os.path.join(WORK, "oracle", os.path.basename(manifest["sf_dir"]) + ".json")
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            expected = oracle.oracle_digests(oracle_sql, queries, manifest["sf_dir"],
                                             manifest["tables"], cache)
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f, indent=1)
        cmd = [java(), *jvm_opens(), f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
               *([f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off"] if jsa else []),
               "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
               "graft.perfbench.Main", spec_path]
        budget = DEADLINE_S - (time.time() - t_built)
        with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
            try:
                subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=budget, cwd=run_dir)
            except subprocess.TimeoutExpired:
                raise Failure(f"the JVM did not finish within {budget:.0f}s (log: {run_dir}/jvm.log)")
        if not os.path.exists(spec["result"]):
            raise Failure(f"the JVM wrote no result (log: {run_dir}/jvm.log)")
        with open(spec["result"]) as f:
            res = json.load(f)
        if "fatal" in res:
            raise Failure(f"the JVM failed: {res['fatal']} (log: {run_dir}/jvm.log)")
        problems = (check_ingest(res, manifest) if a.workload == "ingest"
                    else check_queries(res, expected))
    except Failure as e:
        log(f"error: {e}")
        return 2
    return report(a, manifest, res, problems, time.time() - t_start)


def report(a, manifest, res, problems, elapsed):
    units = res["units"]
    ops = [x for u in units for x in u["ops_s"]]
    lines = []

    def show(name, value, unit, note=""):
        lines.append(f"{name} {value:.6g} {unit}{('  # ' + note) if note else ''}")

    e2e = {
        "setup_s": median(res["setup_cycles_s"]),
        "run_s": median([u["run_s"] for u in units]),
        "latency_p50_ms": median(ops) * 1000 if ops else None,
    }
    for name, unit in END_TO_END:
        if e2e[name] is None:
            problems.append(f"{name} was not measured (no operation succeeded)")
            e2e[name] = float("nan")
    show("setup_s", e2e["setup_s"], "s", "median of " + ", ".join(f"{x:.3f}" for x in res["setup_cycles_s"]))
    show("run_s", e2e["run_s"], "s", f"median of {len(units)} timed units")
    show("latency_p50_ms", e2e["latency_p50_ms"], "ms", f"median of {len(ops)} operations")
    # not an end-to-end metric: Spark's ContextCleaner frees collected
    # broadcast and RDD blocks asynchronously, so the post-GC reading is
    # bimodal from run to run (e.g. 70 or 134 MB on ingest)
    show("peak_heap_mb", res["peak_heap_mb"], "MB", "diagnostic: post-GC heap, bimodal run to run")
    if a.workload == "ingest":
        incr = median([u["incr_s"] for u in units if "incr_s" in u])
        if incr is not None:
            show("incremental_s", incr, "s")
        ratios = [u["sink_bytes"] / manifest["sizes"]["ingested_bytes"] for u in units]
        show("storage_ratio", median(ratios), "bytes/byte")
    else:
        wall = sum(u["run_s"] for u in units)
        show("qps", len(ops) / wall, "queries/s", f"{len(ops)} queries in {wall:.2f}s")
        t = tail(ops)
        if t:
            show("latency_tail_ms", t[0] * 1000, "ms", f"p{t[1]:.1f} of n={t[2]}")
        else:
            lines.append(f"latency_tail_ms n/a ms  # {len(ops)} samples, a tail needs 11")
    attempted, failed = res["attempted"], res["failed"]
    show("error_rate", failed / max(attempted, 1), "ratio", f"{failed} of {attempted} operations failed")
    lines.append("inputs " + json.dumps(manifest["sizes"], sort_keys=True))
    for err in res.get("errors", [])[:10]:
        lines.append(f"error {err}")

    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if a.trace:
        got = res["per_layer"]
        pl = {k: got.get(k, 0.0) for k in PER_LAYER_UNITS}
        pl["sources.skip_ratio"] = got.get("sources.skipped_incr", 0.0) / max(1.0, got.get("sources.discovered_incr", 0.0))
        pl["host.probe_s"] = statistics.mean(res["probe_s"])
        if a.workload == "ingest":
            pl["plans.storage_ratio"] = (pl["plans.sink_bytes"] / manifest["sizes"]["ingested_bytes"]
                                         / len(res["traced_units"]))
        else:
            pl["plans.storage_ratio"] = 0.0
        traced_run = median([u["run_s"] for u in res["traced_units"]])
        lines.append(f"trace.overhead_s {traced_run - e2e['run_s']:.6g} s"
                     f"  # traced run_s {traced_run:.4f} - untraced run_s {e2e['run_s']:.4f}")
        uc = res.get("unit_counters", [])
        for key in ("jobs", "shuffle_write_bytes"):
            vals = [u[key] for u in uc]
            same = len(set(vals)) == 1
            lines.append(f"selfcheck.{key} {'repeats' if same else 'DIFFERS'} {vals}")
            if not same:
                problems.append(f"spark.{key} differs between traced units: {vals}")
        for k, v in sorted(got.items()):
            if k.startswith("operators.q"):
                show(k, v, "s", "execution time of the query over the traced units")
        lines.append(f"spans {res.get('spans_file')}")
        for layer, v in sorted(self_times(res["spans_file"]).items()):
            show(f"self.{layer}_s", v, "s", "self time of the layer's spans")
        lines.append("host.probe_s before/after " + ", ".join(f"{x:.3f}" for x in res["probe_s"])
                     + " s  # diagnostic only, never rescales")
        metrics = {k: {"value": pl[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}
        for k in PER_LAYER_UNITS:
            show(k, pl[k], PER_LAYER_UNITS[k])
    for p in problems:
        lines.append(f"MISMATCH {p}")
    correct = not problems
    lines.append(f"wall_s {elapsed:.3f} s")
    print("\n".join(lines))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    # a SIGTERM unwinds through subprocess.run, which then kills the
    # JVM or compiler it is waiting for and waits for it to end
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
