#!/usr/bin/env python3
"""graft benchmark: one run of one workload, timed from outside the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0
  python3 perfbench/run.py --smoke

A run builds the harness (an sbt package in this directory, compiled
against the engine's sources; the build is cached under perfbench/work/),
prepares and verifies the corpus, refuses to start while another Spark JVM
is alive, then starts one JVM that makes one cold pass and a fixed number of
warm passes over the workload's queries (see Harness.scala). After the timed window the
JVM writes every query's output, which tools/check.py compares with
SparkEntry.oracleSql run in DuckDB. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

--smoke makes one short traced run of every workload over the sf0.001 corpus
and checks that each metric BENCHMARK.json names is printed with its unit
and that the traced run's reconciliation holds.

The workloads, and which layer should move which end-to-end figure, are
described in README.md next to this file.
"""
import argparse
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
WORK = os.path.join(HERE, "work")
CORPUS = os.path.join(HERE, "corpus")

# Sized so that one run (set-up, cold pass, warm passes, output check) stays
# well under a minute on a 4-core host; see README.md for the reasons.
# `nominal_warm_s` is a fixed estimate of one warm pass on that host. It sets
# how many warm passes cover --seconds, so the pass count, and with it the
# JIT warm-up the passes include, never depends on how fast a run is.
WORKLOADS = {
    "relational": {
        "corpus": "sf0.01",
        "queries": ["sql_waiting_suppliers", "window_percent_rank"],
        "stages": [],
        "nominal_warm_s": 3.5,
    },
    "curation": {
        "corpus": "curation",
        "queries": ["dedup_prefix_filter", "dedup_ngram_jaccard"],
        # the shared stages these queries build, in registry order
        "stages": ["shingle_sets", "shingle_index", "ngram_pairs", "ppjoin_pairs"],
        "nominal_warm_s": 1.3,
    },
    "streaming": {
        "corpus": "sf0.01",
        "queries": ["streaming_rocksdb_agg", "streaming_dsv2_source"],
        "stages": [],
        "nominal_warm_s": 3.8,
    },
}
# the curation corpus: tools/gen_scale.py copies of the vendored sf0.01
CURATION_COPIES = 2
GEN_SCALE_FORMAT = "2"

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}


# every stage any workload builds has a per-layer figure in every traced run
ALL_STAGES = sorted({st for w in WORKLOADS.values() for st in w["stages"]})


def layer_unit(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.core_util", "trace.overhead"):
        return "ratio"
    return "count"


MIN_WARM = 3
# a traced run alternates untraced and traced warm passes in blocks of
# U T T U, so that the JIT warm-up still going on over the warm passes
# weighs the same on both sides of trace.overhead
TRACE_BLOCK = 4
RUN_TIMEOUT_S = 170

# A run whose CPU sentinel or load average exceeds these limits is flagged
# on its report line: other work on the host was competing for its cores.
# The sentinel reads about 0.27 s on an unloaded core of the 4-core
# development host; back-to-back runs of the benchmark alone leave a 1-minute
# load average of up to about one per core.
SENTINEL_LIMIT_S = 0.35
LOAD_LIMIT_PER_CORE = 1.5


def warm_passes(workload, seconds, trace):
    n = max(MIN_WARM, math.ceil(seconds / WORKLOADS[workload]["nominal_warm_s"]))
    return math.ceil(n / TRACE_BLOCK) * TRACE_BLOCK if trace else n

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


# ---- process handling -------------------------------------------------------

CHILDREN = []


def run_proc(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Runs cmd in its own process group; on timeout, or when this script is
    terminated, kills the whole group and waits for it, so nothing outlives
    the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    CHILDREN.append(p)
    try:
        out, err = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        CHILDREN.remove(p)
    return p.returncode, out, err


def on_signal(signum, _frame):
    for p in list(CHILDREN):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(128 + signum)


def spark_jvms():
    """Other live JVMs with Spark on their command line."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        exe = cmd.split(" ", 1)[0]
        if exe.endswith("java") and ("org.apache.spark" in cmd or "spark-core" in cmd):
            found.append(f"{pid}: {cmd[:120]}")
    return found


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---- build ------------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the harness and the engine with sbt, once per source state;
    returns the runtime classpath."""
    stamp = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the harness and the engine (sbt)")
    t0 = time.time()
    with open(os.path.join(WORK, "build", "sbt.log"), "wb") as lf:
        rc, out, _ = run_proc(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, timeout=800, env=env, stdout=subprocess.PIPE, stderr=lf)
    text = out.decode(errors="replace")
    if rc != 0:
        fail(f"build failed (see {os.path.relpath(lf.name, ROOT)}):\n{text[-2000:]}", 1)
    cp = [l for l in text.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as c:
        c.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---- corpus -----------------------------------------------------------------

def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def manifest_ok(d):
    sums = os.path.join(d, "SHA256SUMS")
    if not os.path.exists(sums):
        return False
    with open(sums) as f:
        rows = [l.split() for l in f if l.strip()]
    return bool(rows) and all(
        os.path.exists(os.path.join(d, n)) and sha256(os.path.join(d, n)) == h
        for h, n in rows)


def write_manifest(d):
    names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
    with open(os.path.join(d, "SHA256SUMS"), "w") as f:
        for n in names:
            f.write(f"{sha256(os.path.join(d, n))}  {n}\n")


def corpus_dir(name):
    """Vendored corpora are verified against their committed manifest; the
    curation corpus is generated by tools/gen_scale.py, and rebuilt when
    its format marker or its checksums do not match."""
    if name != "curation":
        d = os.path.join(CORPUS, name)
        if not manifest_ok(d):
            fail(f"corpus {name} does not match its SHA256SUMS", 1)
        return d
    src = corpus_dir("sf0.01")
    d = os.path.join(WORK, "corpus", f"curation-x{CURATION_COPIES}")
    marker = os.path.join(d, "GEN_SCALE_FORMAT")
    fmt_ok = os.path.exists(marker) and open(marker).read().strip() == GEN_SCALE_FORMAT
    if fmt_ok and manifest_ok(d):
        return d
    log(f"generating the curation corpus ({CURATION_COPIES} copies of sf0.01)")
    shutil.rmtree(d, ignore_errors=True)
    rc, out, err = run_proc(
        [sys.executable, os.path.join(ROOT, "tools", "gen_scale.py"), src, d,
         str(CURATION_COPIES)], cwd=ROOT, timeout=120,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if rc != 0 or open(marker).read().strip() != GEN_SCALE_FORMAT:
        fail(f"gen_scale failed: {out.decode(errors='replace')[-1000:]}", 1)
    write_manifest(d)
    return d


# ---- one run ----------------------------------------------------------------

def harness(cp, workload, corpus, seed, warm, trace, out, deadline):
    w = WORKLOADS[workload]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xms3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Harness",
            "--corpus", corpus, "--queries", ",".join(w["queries"]),
            "--seed", str(seed), "--warm", str(warm), "--trace", str(int(trace)),
            "--out", out, "--stages", ",".join(w["stages"]),
            "--stage-names", ",".join(ALL_STAGES)]
    with open(os.path.join(out, "jvm.log"), "wb") as lf:
        try:
            rc, _, _ = run_proc(cmd, cwd=out, timeout=deadline - time.time(),
                                stdout=lf, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail("the harness JVM did not finish in time", 1)
    if rc != 0:
        with open(os.path.join(out, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"the harness JVM exited with {rc}:\n{tail}", 1)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_check(corpus, out, deadline):
    """tools/check.py, unchanged: returns the names of mismatching queries."""
    dump = os.path.join(out, "dump")
    try:
        _, text, _ = run_proc(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"), corpus, dump],
            cwd=ROOT, timeout=deadline - time.time(),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    except subprocess.TimeoutExpired:
        fail("the oracle check did not finish in time", 1)
    text = text.decode(errors="replace")
    passed = {l.split()[1] for l in text.splitlines() if l.startswith("PASS ")}
    failed = {l.split()[1].rstrip(":") for l in text.splitlines() if l.startswith("FAIL ")}
    return passed, failed, text


def host_flags(sentinel, load0, cores):
    flags = []
    if sentinel > SENTINEL_LIMIT_S:
        flags.append(f"sentinel_cpu_s {sentinel:.3f} > {SENTINEL_LIMIT_S}")
    if load0[0] > LOAD_LIMIT_PER_CORE * cores:
        flags.append(f"loadavg {load0[0]} > {LOAD_LIMIT_PER_CORE * cores:g}")
    return flags


def one_run(cp, workload, seed, seconds, trace, corpus_name=None):
    started = time.time()
    deadline = started + RUN_TIMEOUT_S
    w = WORKLOADS[workload]
    corpus = corpus_dir(corpus_name or w["corpus"])
    out = os.path.join(WORK, "runs", workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    load0 = loadavg()
    res = harness(cp, workload, corpus, seed, warm_passes(workload, seconds, trace),
                  trace, out, deadline)
    passed, mismatched, check_text = oracle_check(corpus, out, deadline)
    unchecked = [q for q in res["oracle"] if q not in passed and q not in mismatched]
    mismatched |= set(unchecked)

    passes = res["passes"]
    execs = [q for p in passes for q in p["queries"]]
    attempted = len(execs)
    # failed plus oracle-mismatched executions
    bad = sum(1 for q in execs if not q["ok"] or q["name"] in mismatched)
    cold = [p for p in passes if p["cold"]]
    warm = [p for p in passes if not p["cold"]]
    warm_walls = [p["wall_s"] for p in warm]
    batches = [b for p in warm for b in p["batch_ms"]]
    report = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "passes": {"cold": len(cold), "warm": len(warm)},
        "pass_walls_s": [round(p["wall_s"], 4) for p in passes],
        "samples": {"setup_s": 1, "cold_pass_s": 1, "warm_pass_s": len(warm_walls),
                    "micro_batches": len(batches)},
        "error_rate": bad / attempted,
        "failed_queries": res["errors"],
        "mismatched_queries": sorted(mismatched),
        "cached_mb": res["cached_mb"],
        "heap_mb": res["heap_mb"],
        "batch_p50_ms": statistics.median(batches) if batches else None,
        "batch_p90_ms": (statistics.quantiles(batches, n=10)[-1]
                         if len(batches) >= 2 else None),
        "sentinel_cpu_s": res["sentinel_cpu_s"],
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "host_flags": host_flags(res["sentinel_cpu_s"], load0, int(res["cores"])),
        "run_s": time.time() - started,
    }
    metrics = {
        "setup_s": res["setup_s"],
        "cold_pass_s": cold[0]["wall_s"],
        "warm_pass_s": statistics.median(warm_walls),
    }
    return res, report, metrics, attempted, bad, check_text


def reconcile(checks):
    """The traced run's self-checks, each with its result."""
    ok = {
        "unattributed_jobs == 0": checks["unattributed_jobs"] == 0,
        "warm_listener_jobs == warm_operators_plus_exec_jobs":
            checks["warm_listener_jobs"] == checks["warm_operators_plus_exec_jobs"],
        "cold_listener_jobs == cold_operators_plus_exec_jobs + cold_stage_build_jobs":
            checks["cold_listener_jobs"]
            == checks["cold_operators_plus_exec_jobs"] + checks["cold_stage_build_jobs"],
        "self_time_max_error_ms <= 1": checks["self_time_max_error_ms"] <= 1.0,
        "harness_share_max < 0.01": checks["harness_share_max"] < 0.01,
    }
    return dict(checks, ok=ok)


def smoke(cp):
    """One short traced run of every workload on sf0.001; every metric
    BENCHMARK.json names must be printed with its unit."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json is missing", 1)
    wanted = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    problems = []
    for w in WORKLOADS:
        res, report, metrics, attempted, bad, _ = one_run(
            cp, w, 1, 0, True, corpus_name="sf0.001")
        printed = {k: (v, END_TO_END[k]) for k, v in metrics.items()}
        printed.update({k: (v, layer_unit(k)) for k, v in res["trace"]["layers"].items()})
        for k, (v, u) in sorted(printed.items()):
            print(f"smoke {w} {k} {v} {u}")
        rec = reconcile(res["trace"]["checks"])["ok"]
        print(f"smoke {w} reconcile " + json.dumps(rec))
        problems += [f"{w}: reconcile check failed: {k}" for k, v in rec.items() if not v]
        if bad:
            problems.append(f"{w}: {bad} failed or mismatched executions: {report}")
        for name, unit in wanted.items():
            if name not in printed:
                problems.append(f"{w}: {name} not printed")
            elif printed[name][1] != unit:
                problems.append(f"{w}: {name} printed in {printed[name][1]}, not {unit}")
    if problems:
        fail("smoke failed:\n  " + "\n  ".join(problems), 1)
    print("smoke ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join("tools", "check.py"), os.path.join("tools", "gen_scale.py")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} is missing: run from a checkout of the whole repository")
    if not a.smoke and not a.workload:
        fail("--workload is required")
    others = spark_jvms()
    if others:
        fail("another Spark JVM is alive; refusing to run:\n  " + "\n  ".join(others), 3)
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    if a.smoke:
        smoke(cp)
        return
    res, report, metrics, attempted, bad, check_text = one_run(
        cp, a.workload, a.seed, a.seconds, bool(a.trace))
    if report["mismatched_queries"]:
        print(check_text)
    print("report " + json.dumps(report, sort_keys=True))
    correct = bad == 0
    if report["host_flags"]:
        log("host busy: " + "; ".join(report["host_flags"]))
    if a.trace:
        rec = reconcile(res["trace"]["checks"])
        print("reconcile " + json.dumps(rec, sort_keys=True))
        # a trace that does not account for the run is not a correct run
        correct = correct and all(rec["ok"].values())
        out_metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in res["trace"]["layers"].items()}
    else:
        out_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": bad,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
