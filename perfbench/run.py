#!/usr/bin/env python3
"""graft's benchmark: three closed-loop workloads timed from outside graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the root of a graft checkout. The first run builds graft's sources
together with the harness in perfbench/ (sbt, offline); later runs reuse the
build while the sources are unchanged. Each run starts one JVM at
local[<cores>] that sets up several times (session build + input
generation), runs one first pass, one untimed warm-up pass, then
round(--seconds / nominal pass time) steady passes. One caller runs the ops of a pass back to back. The first pass of a
query workload writes its results as parquet, which are checksummed against
the DuckDB oracle's record in expected.json; nvd_etl checks every op's
counts in every pass.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of
a run whose Spark listeners attach every job and stage to the op that
launched it. The last stdout line is the result object; the full artifact
(host stamp, per-pass evidence, span tree) is written under
perfbench/.work/results/. Everything a run writes stays under
perfbench/.work/run-<pid>/, which is removed when the run ends.

--smoke runs every workload once on tiny inputs, traced and untraced, and
checks that every metric BENCHMARK.json names is emitted with its unit and
that the span tree is well formed.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

WAREHOUSE_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q9_profit_by_nation_year", "q13_order_count_dist",
    "q18_large_orders",
]
CORPUS_QUERIES = [
    "graph_connected_components", "graph_kcore", "q_markov_stationary",
    "q_quantile_bisect", "q_group_quantile_bisect", "dedup_editdistance",
]
# nvd_etl: (yearly shards, CVEs per shard, new CVEs in the recent feed).
# pass_s: a steady pass's nominal length on 4 vCPUs; a run makes
# round(--seconds / pass_s) steady passes. BENCHMARK.json lists nvd_etl and
# corpus_operators only: a full measurement of three workloads does not fit
# its time budget (README.md), so warehouse_sql runs on request.
WORKLOADS = {
    "nvd_etl": {"nvd": (3, 2000, 700), "pass_s": 6.0},
    "warehouse_sql": {"sf": "0.01", "queries": WAREHOUSE_QUERIES, "pass_s": 5.0},
    "corpus_operators": {"sf": "0.01", "queries": CORPUS_QUERIES, "pass_s": 6.5},
}
SMOKE = {
    "nvd_etl": {"nvd": (2, 1000, 200), "pass_s": 6.0},
    "warehouse_sql": {"sf": "0.001", "queries": WAREHOUSE_QUERIES, "pass_s": 5.0},
    "corpus_operators": {"sf": "0.001", "queries": CORPUS_QUERIES, "pass_s": 6.5},
}
SETUPS = 3
# a fixed heap and young generation, so that peak RSS follows the live data
# rather than the collector's resizing
HEAP = "3g"
YOUNG = "768m"
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation graft compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(sha):
    """Compile graft + the harness unless this source tree is already built."""
    stamp = os.path.join(WORK, "build.sha")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == sha:
        return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(sha)


def tree_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def host_stamp(seed, sha):
    def first(path, key):
        try:
            with open(path) as fh:
                for line in fh:
                    if line.startswith(key):
                        return line.split(":", 1)[1].strip()
        except OSError:
            pass
        return "unknown"

    git_sha, dirty = "none", None
    try:
        git_sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, check=True).stdout.strip()
        dirty = bool(subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                                    capture_output=True, text=True, check=True).stdout.strip())
    except (OSError, subprocess.CalledProcessError):
        pass  # a plain source checkout: source_sha256 identifies the code
    return {
        "nproc": os.cpu_count(),
        "cpu_model": first("/proc/cpuinfo", "model name"),
        "mem_total": first("/proc/meminfo", "MemTotal"),
        "kernel": platform.release(),
        "git_sha": git_sha,
        "git_dirty": dirty,
        "source_sha256": sha,
        "seed": seed,
    }


def verify(run_dir, queries, sf):
    """Compare each verification-pass result with the oracle's record."""
    expected = json.load(open(os.path.join(HERE, "expected.json")))[f"sf{sf}"]
    failures, checked = [], 0
    for q in queries:
        want = expected.get(q)
        if want is None:  # the DuckDB oracle did not finish at this scale
            continue
        checked += 1
        try:
            got = checks.summary(checks.read_result(os.path.join(run_dir, "verify", q)))
        except Exception as e:  # a missing or unreadable result is a failure
            failures.append({"op": q, "error": f"verify: {type(e).__name__}: {e}"})
            continue
        if got != want:
            failures.append({"op": q, "error": f"verify: got {got}, want {want}"})
    return checked, failures


def run_jvm(workload, spec, seed, seconds, trace, run_dir, log_path):
    out = os.path.join(run_dir, "result.json")
    cores = os.cpu_count()
    steady = max(1, round(seconds / spec["pass_s"]))
    args = [f"workload={workload}", f"seed={seed}", f"steady_passes={steady}",
            f"trace={trace}", f"setups={SETUPS}", f"cores={cores}",
            f"run_dir={run_dir}", f"out={out}"]
    if "nvd" in spec:
        args.append("nvd=" + ",".join(str(x) for x in spec["nvd"]))
    else:
        args += [f"sf={spec['sf']}", "queries=" + ",".join(spec["queries"]),
                 f"generator={os.path.join(HERE, 'gen_tables.py')}"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload}: JVM exceeded {JVM_TIMEOUT_S}s; log in {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"{workload}: JVM exit {rc}; log in {log_path}")
    return json.load(open(out))


def one_run(workload, spec, seed, seconds, trace, sha):
    t_start = time.time()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_jvm = time.time()
        res = run_jvm(workload, spec, seed, seconds, trace, run_dir,
                      os.path.join(WORK, "results", tag + ".log"))
        t_jvm = time.time() - t_jvm
        failures = list(res["failures"])
        attempted = res["attempted"]
        if "queries" in spec:
            checked, bad = verify(run_dir, spec["queries"], spec["sf"])
            attempted += checked
            failures += bad
        left_before = tree_bytes(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    left_after = tree_bytes(run_dir) if os.path.exists(run_dir) else 0

    metrics = res["end_to_end"] if trace == 0 else res["per_layer"]
    if trace == 1:  # the JVM cannot see the oracle checks made here
        metrics["ops.failure_ratio"] = len(failures) / attempted
    units = {m["name"]: m["unit"] for m in bench_spec()["end_to_end" if trace == 0 else "per_layer"]}
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }
    stamp = host_stamp(seed, sha)
    stamp.update({
        "workload": workload, "seconds": seconds, "trace": trace, "setups": SETUPS,
        "inputs": dict(spec, input_bytes=res["input_bytes"]),
        "jvm": res["jvm"], "spark_conf": res["spark_conf"],
        "scratch_bytes_before_cleanup": left_before,
        "scratch_bytes_after_cleanup": left_after,
        "jvm_wall_s": t_jvm,
        "run_wall_s": time.time() - t_start,
    })
    artifact = dict(result, stamp=stamp, failures=failures, setup_s=res["setup_s"],
                    passes=res["passes"], spans=res["spans"],
                    end_to_end=res["end_to_end"], per_layer=res["per_layer"])
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    return result, artifact


def bench_spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def span_problems(spans, tol_ms=5.0):
    by_id = {s["id"]: s for s in spans}
    problems = []
    for s in spans:
        if s["self_ms"] < -1e-6:
            problems.append(f"negative self time: {s['kind']} {s['name']}")
        p = by_id.get(s["parent"])
        if p is None:
            if s["kind"] != "run":
                problems.append(f"orphan span: {s['kind']} {s['name']}")
            continue
        if (s["start_ms"] < p["start_ms"] - tol_ms or
                s["start_ms"] + s["dur_ms"] > p["start_ms"] + p["dur_ms"] + tol_ms):
            problems.append(f"{s['kind']} {s['name']} outside its parent {p['kind']} {p['name']}")
        if s["kind"] == "job":
            a = p
            while a is not None and a["kind"] != "op":
                a = by_id.get(a["parent"])
            if a is None:
                problems.append(f"job {s['name']} has no op ancestor")
    return problems


def smoke(sha):
    spec = bench_spec()
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            t0 = time.time()
            result, artifact = one_run(workload, SMOKE[workload], 1, 1, trace, sha)
            kind = "end_to_end" if trace == 0 else "per_layer"
            for m in spec[kind]:
                got = result["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{workload} trace={trace}: metric {m['name']} missing")
            if not result["correct"]:
                problems.append(f"{workload} trace={trace}: {artifact['failures']}")
            problems += [f"{workload} trace={trace}: {p}" for p in span_problems(artifact["spans"])]
            print(f"smoke {workload} trace={trace}: {time.time() - t0:.1f}s "
                  f"attempted={result['attempted']} failed={result['failed']}", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print(json.dumps({"smoke_ok": not problems, "problems": len(problems)}))
    return 0 if not problems else 1


def main():
    # a terminated run still stops its JVM and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    sha = source_sha()
    build(sha)
    if a.smoke:
        return smoke(sha)
    result, _ = one_run(a.workload, WORKLOADS[a.workload], a.seed, a.seconds, a.trace, sha)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
