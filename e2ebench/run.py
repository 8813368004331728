#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine (see README.md in this directory).

Usage, from the root of a checkout:
  python3 e2ebench/run.py --workload rpc_backfill --seed 1 --seconds 15 --trace 0
  python3 e2ebench/run.py --selftest [--seed 1]

Builds the engine and the benchmark from source on first use (sbt, into
e2ebench/target, classpath cached under .bench_build/e2ebench), launches one
benchmark JVM per run, checks the corpus results against the engine's DuckDB
oracle SQL, and prints one JSON object as the last line of stdout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "e2ebench")
WORKLOADS = ("rpc_backfill", "synced_hybrid", "corpus_build")
E2E = (("throughput_per_s", "1/s"), ("latency_p50_ms", "ms"),
       ("latency_tail_ms", "ms"), ("setup_s", "s"))
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        die(f"engine sources not found at {engine}: run from a full checkout")
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def classpath():
    """Build once per source state; return the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cp_file = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    opts = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        # clean: a build happens only when sources changed, and a stale
        # incremental state does not survive a change of the jar paths
        p = subprocess.run([sbt, *opts, "clean", "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=fh, text=True, timeout=840)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "graft-e2ebench" in l or "/classes" in l]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}), see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def jvm(cp, args, run_dir, limit_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", *args, "--run-dir", run_dir]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, "timed out"
    return proc.returncode, out


def oracle_check(run_dir, oracle, res):
    """Check every distinct corpus result against DuckDB over the generated
    parquet; a planted fault (an extra doc / a manifest count off by one)
    must be rejected too, so the check cannot pass vacuously.
    """
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count() or 1}")
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb_tmp')}'")
    con.execute("SET memory_limit='3GB'")
    docs = os.path.join(run_dir, "documents", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    for o in oracle:
        # evaluate every CTE once: DuckDB otherwise inlines a CTE at each
        # reference, and the unrolled label-propagation steps of the dedup
        # oracle reference their predecessor twice (2^steps re-evaluations);
        # the query's meaning is unchanged
        sql = re.sub(r"(\b[A-Za-z_]\w*) AS \(", r"\1 AS MATERIALIZED (", o["sql"])
        expected = sorted(tuple(r) for r in con.execute(sql).fetchall())
        for r in o["results"]:
            got = sorted(tuple(x) for x in r["rows"])
            if got != expected:
                res["failed"] += r["jobs"]
                res["correct"] = False
                res["notes"].append(f"FAILED: {o['name']}: {r['jobs']} job(s) differ from the "
                                    f"DuckDB oracle ({len(got)} vs {len(expected)} rows)")
        if expected:
            row = list(expected[0])
            row[-1 if o["name"] == "dedup_representatives" else 1] += 1
            faulty = sorted(expected + [tuple(row)]) if o["name"] == "dedup_representatives" \
                else sorted([tuple(row)] + expected[1:])
            if faulty == expected:
                res["correct"] = False
                res["notes"].append(f"FAILED: {o['name']}: checker accepted a planted fault")
        res["notes"].append(f"oracle {o['name']}: {len(expected)} rows, "
                            f"{sum(r['jobs'] for r in o['results'])} job(s) checked")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="generator self-test: same seed identical, other seed different")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        die("--workload is required")
    started = time.time()
    cp = classpath()
    tag = "selftest" if a.selftest else a.workload
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    passed = False
    try:
        if a.selftest:
            code, out = jvm(cp, ["--workload", "selftest", "--seed", str(a.seed)], run_dir,
                            RUN_LIMIT_S)
            print(out or "")
            passed = code == 0
            sys.exit(0 if passed else 1)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        t_jvm = time.time()
        code, out = jvm(cp, args, run_dir, max(30, RUN_LIMIT_S - (time.time() - started)))
        print(f"jvm exited {code} after {time.time() - t_jvm:.1f} s "
              f"(run.py start to jvm {t_jvm - started:.1f} s)", file=sys.stderr)
        result_file = os.path.join(run_dir, "jvm_result.json")
        if not os.path.exists(result_file):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            sys.exit(1)
        with open(result_file) as fh:
            res = json.load(fh)
        res["notes"] = list(res.get("notes", []))
        if res.get("oracle"):
            t_oracle = time.time()
            try:
                oracle_check(run_dir, res["oracle"], res)
            except Exception as e:  # an oracle that cannot run verifies nothing
                res["correct"] = False
                res["failed"] = res["attempted"]
                res["notes"].append(f"FAILED: oracle check raised {e}")
            print(f"oracle check {time.time() - t_oracle:.1f} s", file=sys.stderr)
        for n in res["notes"]:
            print(n)
        for k, m in list(res["e2e"].items()):
            print(f"e2e {k} = {m['value']:.6g} {m['unit']}")
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            base = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            for f in ("spans", "progress"):
                if os.path.exists(os.path.join(run_dir, f + ".jsonl")):
                    shutil.move(os.path.join(run_dir, f + ".jsonl"), f"{base}.{f}.jsonl")
            with open(base + ".layers.json", "w") as fh:
                json.dump({"e2e": res["e2e"], "layer": res["layer"]}, fh, indent=1)
            print(f"trace written to {os.path.relpath(base, ROOT)}.*")
        metrics = res["layer"] if a.trace else {k: res["e2e"].get(k, {"value": 0, "unit": u})
                                               for k, u in E2E}
        passed = bool(res["correct"]) and code == 0
        print(json.dumps({"correct": passed,
                          "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                          "metrics": metrics}))
    finally:
        # a failed run keeps its scratch (jvm.log, sinks) for inspection
        if passed:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            print(f"run scratch kept in {os.path.relpath(run_dir, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    main()
