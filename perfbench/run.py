#!/usr/bin/env python3
"""The repo benchmark: cold-start runs of the engine's public entry points.

    python3 perfbench/run.py --workload cli_pipeline[,etl_scale] --seed 1 \
        --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and this
runner with sbt (offline) into the checkout; later runs reuse that build.
A run generates its inputs from --seed, then runs cold iterations until
--seconds have passed (at least one): each a fresh JVM on an empty zones
root and an empty warehouse. Outputs are checked after every iteration,
outside the timed region. See README.md for workloads and metrics.

--trace 0 prints the end-to-end metrics (medians over iterations);
--trace 1 runs one iteration with the tracer attached and prints the
per-layer metrics and every call instead. The last stdout line is one JSON
object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# Generated input size (fraction of the engine's sf1 testdata row counts).
SF = 0.01
# etl_scale's key-shifted replicas of the generated source tables
ETL_REPLICAS = 20
# Wall-clock ceiling for one whole run, build excluded.
RUN_LIMIT_S = 170
# local[CORES]: the cores this process may run on (nproc)
CORES = len(os.sched_getaffinity(0))
# added to build.sbt's javaOptions: no hsperfdata file in the system temp dir
JVM_EXTRA = ["-XX:-UsePerfData"]

WORKLOADS = ("cli_pipeline", "etl_scale")
# the calls whose returned rows are the omop-zone rows the ETL wrote
ETL_CALLS = ("run_etl", "etl_run")

END_TO_END = [("wall_s", "s"), ("setup_s", "s"), ("cdm_rows_per_s", "rows/s")]

# per-layer metrics: span sums, FolderEtl GRAFT_TIMING phase sums, and the
# tracer's counters; every workload reports all of them (0 = layer unused)
CLI_SPANS = {"run_etl": "cli.run_etl_s", "data_quality": "cli.data_quality_s",
             "achilles": "cli.achilles_s"}
ETL_PHASES = {"upload": "etl.upload_s", "usagi-upload": "etl.upload_s",
              "custom-upload": "etl.upload_s", "pk-swap": "etl.pk_swap_s",
              "omop-write": "etl.omop_write_s", "lineage": "etl.lineage_s",
              "event-step": "etl.event_step_s"}
TRACER = ["spark.parse_s", "spark.analysis_s", "spark.optimizer_s", "spark.planning_s",
          "spark.executions", "spark.rule_s", "spark.rule_runs", "driver.nojob_s",
          "spark.codegen_classes", "spark.codegen_compile_s", "spark.codegen_bytes_mb",
          "jvm.jit_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
          "spark.scan_mb", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
          "spark.output_mb", "spark.spill_mb", "spark.write_commit_s",
          "spark.task_failures", "io.fs_write_ops", "io.fs_read_ops",
          "io.fs_bytes_written_mb", "jvm.gc_s"]
PER_LAYER = (sorted(set(CLI_SPANS.values())) + ["etl.run_s"] +
             sorted(set(ETL_PHASES.values())) + TRACER +
             ["jvm.cpu_s", "jvm.peak_rss_mb", "trace.wall_s", "trace.overhead_s"])


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_key():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def driver_mem():
    """SPARK_DRIVER_MEM as the tier-1 test command sets it: half of RAM, 2-8g."""
    with open("/proc/meminfo") as fh:
        kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def build_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    env.setdefault("SPARK_DRIVER_MEM", driver_mem())
    return env


def build():
    """Compile engine + runner once per source state; return (jvm opts, classpath)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the engine: {need} missing under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(BUILD, f"launch-{source_key()}.txt")
    if not os.path.exists(launch):
        logf = os.path.join(BUILD, "build.log")
        t0 = time.time()
        with open(logf, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", f"benchLaunch {launch}.tmp"],
                cwd=HERE, env=build_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            with open(logf) as fh:
                log("".join(fh.readlines()[-30:]))
            fail(f"build failed (exit {r.returncode}), see {logf}")
        os.replace(launch + ".tmp", launch)
        log(f"built in {time.time() - t0:.1f} s")
    with open(launch) as fh:
        opts, cp = fh.read().split("\n")[:2]
    return [o for o in opts.split("\0") if o], cp


# ---------------------------------------------------------------- checks

def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype) in ("int8", "int16", "int32", "uint32", "Int64"):
            df[c] = df[c].astype("int64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def oracle_checks(path):
    """Replay the runner's `oracle_checks.json` in DuckDB: each check's
    oracle SQL over the omop-zone tables against the stored results.
    Returns one message per mismatch."""
    import duckdb
    with open(path) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET TimeZone='UTC'")
    for t, files in spec["views"].items():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {files}")
    bad = []
    for c in spec["checks"]:
        try:
            want = normalize(con.sql(c["oracle"]).df())
            got = normalize(con.sql(c["stored"]).df())
        except Exception as e:  # noqa: BLE001 -- any read or replay error is a mismatch
            bad.append(f"{c['name']}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if list(got.columns) != list(want.columns) or got.shape != want.shape or got.empty:
            bad.append(f"{c['name']}: {list(got.columns)} {got.shape} != oracle "
                       f"{list(want.columns)} {want.shape}")
            continue
        # the engine's oracle contract compares stringified cells
        for col in got.columns:
            g, w = got[col].map(str).values, want[col].map(str).values
            if (g != w).any():
                k = int((g != w).argmax())
                bad.append(f"{c['name']}: column {col} row {k}: {g[k]!r} != oracle {w[k]!r}")
                break
    con.close()
    return bad


# ---------------------------------------------------------------- iterations

def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_iteration(workload, data_dir, seed, traced, opts, cp, deadline):
    """One cold iteration: a fresh JVM on an empty zones root and warehouse."""
    it = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(it, "tmp"))
    if workload == "etl_scale":
        shutil.copytree(os.path.join(data_dir, "etl_raw"),
                        os.path.join(it, "zones", "graft_zones_bench", "raw"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=f"{it}/local")
    env.pop("GRAFT_TIMING", None)
    if traced:
        env["GRAFT_TIMING"] = "1"
    cmd = (["java"] + opts + JVM_EXTRA +
           [f"-Dgraft.zones.root={it}/zones", f"-Djava.io.tmpdir={it}/tmp", "-cp", cp,
            "perfbench.Runner", workload, data_dir, it, str(seed), "1" if traced else "0"])
    rec = {"traced": traced, "load1_before": load1()}
    steal0 = steal_s()
    try:
        with open(os.path.join(it, "stdout.log"), "w") as o, \
                open(os.path.join(it, "stderr.log"), "w") as e:
            p = subprocess.Popen(cmd + [str(time.time_ns() // 1000)], cwd=it, env=env,
                                 stdout=o, stderr=e, stdin=subprocess.DEVNULL)
            try:
                code = p.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                code = "timeout"
        rec.update(load1_after=load1(), steal_s=steal_s() - steal0)
        res = os.path.join(it, "iteration.json")
        if code != 0 or not os.path.exists(res):
            with open(os.path.join(it, "stderr.log")) as fh:
                tail = [l for l in fh.read().splitlines() if " INFO " not in l][-15:]
            log("\n".join(tail))
            rec.update(error=f"runner exit {code}")
            return rec
        with open(res) as fh:
            rec.update(json.load(fh))
        if traced:
            rec["layers"].update(etl_phases(os.path.join(it, "stderr.log")))
        checks = os.path.join(it, "oracle_checks.json")
        if os.path.exists(checks):
            rec["check_failures"] += oracle_checks(checks)
        elif workload == "cli_pipeline" and not any(c["error"] for c in rec["calls"]):
            rec["check_failures"].append("no oracle checks written")
        return rec
    finally:
        shutil.rmtree(it, ignore_errors=True)


def etl_phases(stderr_path):
    """Sum FolderEtl's `[folder-timing] <table> <phase> <secs>s` lines by phase."""
    out = {}
    pat = re.compile(r"\[folder-timing\] (\S+) (\S+)\s+([0-9.]+)s")
    with open(stderr_path) as fh:
        for line in fh:
            m = pat.search(line)
            if m and m.group(2) in ETL_PHASES:
                k = ETL_PHASES[m.group(2)]
                out[k] = out.get(k, 0.0) + float(m.group(3))
    return out


def run_workload(workload, seed, seconds, trace, opts, cp):
    """Cold iterations until --seconds have passed (at least one; one if traced)."""
    start = time.time()
    deadline = start + RUN_LIMIT_S
    data_dir = os.path.join(BUILD, "work", f"data-{os.getpid()}-{seed}")
    try:
        import gen
        gen.generate(data_dir, seed, SF)
        if workload == "etl_scale":
            gen.etl_raw(data_dir, os.path.join(data_dir, "etl_raw"), seed, ETL_REPLICAS)
        its = []
        while True:
            its.append(run_iteration(workload, data_dir, seed, trace, opts, cp, deadline))
            elapsed = time.time() - start
            if trace or "error" in its[-1] or elapsed >= seconds or \
                    time.time() + elapsed / len(its) > deadline:
                return its
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(its, trace):
    """(attempted, failed, problems, metrics) over a run's iterations."""
    attempted, problems, ok = 0, [], []
    for i in its:
        if "error" in i:
            attempted += 1
            problems.append(i["error"])
            continue
        ok.append(i)
        attempted += len(i["calls"])
        problems += [f"{c['name']}: {c['error']}" for c in i["calls"] if c["error"] is not None]
        problems += i["check_failures"]
    if not ok:
        return attempted, len(problems), problems, {}
    if not trace:
        values = {
            "wall_s": med([i["wall_s"] for i in ok]),
            "setup_s": med([i["setup_s"] for i in ok]),
            "cdm_rows_per_s": med([sum(c["rows"] for c in i["calls"] if c["name"] in ETL_CALLS)
                                   / i["wall_s"] for i in ok]),
        }
        return attempted, len(problems), problems, \
            {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    for i in ok:
        lay = i["layers"]
        for c in i["calls"]:
            if c["name"] in CLI_SPANS:
                lay[CLI_SPANS[c["name"]]] = c["s"]
            if c["name"] in ETL_CALLS:
                lay["etl.run_s"] = c["s"]
        lay.update({"trace.wall_s": i["wall_s"], "jvm.cpu_s": i["cpu_s"],
                    "jvm.peak_rss_mb": i["peak_rss_mb"]})
    return attempted, len(problems), problems, \
        {k: {"value": med([i["layers"].get(k, 0.0) for i in ok]), "unit": unit_of(k)}
         for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="comma-separated subset of: " + ", ".join(WORKLOADS) + ", or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = list(WORKLOADS) if a.workload == "all" else a.workload.split(",")
    for n in names:
        if n not in WORKLOADS:
            fail(f"unknown workload {n!r}; choose from {', '.join(WORKLOADS)}")
    opts, cp = build()
    flags = [o for o in opts + JVM_EXTRA if o != "--add-opens" and "ALL-UNNAMED" not in o]
    print(f"host: cores={CORES} jvm_opts={' '.join(flags)}")
    total_att = total_fail = 0
    all_metrics = {}
    for w in names:
        its = run_workload(w, a.seed, a.seconds, bool(a.trace), opts, cp)
        for k, i in enumerate(its):
            desc = i.get("error") or (f"setup {i['setup_s']:.3f} s, wall {i['wall_s']:.3f} s, "
                                       f"cpu {i['cpu_s']:.2f} s")
            print(f"{w} iteration {k}{' (traced)' if i['traced'] else ''}: {desc}; "
                  f"load1 {i['load1_before']:.2f} -> {i.get('load1_after', 0.0):.2f}, "
                  f"host steal {i.get('steal_s', 0.0):.1f} s")
            if a.trace and "error" not in i:
                for c in i["calls"]:
                    print(f"  call {c['name']}: {c['s']:.4f} s, {c['rows']} rows"
                          + (f", error {c['error']}" if c["error"] else ""))
        att, bad, problems, metrics = summarize(its, bool(a.trace))
        for p in problems:
            print(f"{w} MISMATCH {p}")
        for k, m in metrics.items():
            print(f"{w} {k} = {m['value']:.6g} {m['unit']}")
        print(f"{w} verdict: {'correct' if bad == 0 else 'INCORRECT'} "
              f"({att} attempted, {bad} failed)")
        total_att += att
        total_fail += bad
        prefix = "" if len(names) == 1 else f"{w}."
        all_metrics.update({prefix + k: m for k, m in metrics.items()})
    print(json.dumps({"correct": total_fail == 0, "attempted": total_att,
                      "failed": total_fail, "metrics": all_metrics}))


if __name__ == "__main__":
    main()
