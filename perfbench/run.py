#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage:
  python3 perfbench/run.py --workload governed_batch --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (offline) into perfbench/target; later
runs reuse that build while the sources are unchanged. Every run works
in its own fresh directory under perfbench/runs/ and removes its bulky
outputs when it ends. The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of a separate traced window (see BENCHMARK.json).
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("governed_batch", "curation_queries")
DEADLINE_S = 175            # the whole run, build excluded, must end within this
BUILD_DEADLINE_S = 800
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BULKY = ("data", "out", "lake", "check", "spark-local", "spark-checkpoints", "checkpoints",
         "warehouse", "tmp", "contracts", "governance", "server-contracts",
         "server-governance", "local-governance")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def ensure_built():
    """Compiles graft and the harness unless the build matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/; run from a graft checkout")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark 4 distribution")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(HERE, "target", "graftbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}", 1)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 1)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_jvm(classes, args, run_dir, deadline):
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main", *args]
    with open(os.path.join(run_dir, "harness.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("harness timed out", 1)
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(os.path.join(run_dir, "harness.log")).read()[-4000:])
        fail(f"harness exited {p.returncode} without a result", 1)
    return json.loads(lines[-1][len("GRAFTBENCH "):])


def oracle_failures(run_dir, data_dir):
    """Hash-compares each curation query's result to its DuckDB oracle,
    with tools/check.py's normalisation. Returns {query: reason}."""
    import duckdb
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("lineitem", "orders", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(run_dir, "check", "oracle_sql.json")))
    bad = {}
    for q, sql in oracles.items():
        try:
            got = check.load_sorted(con, f"SELECT * FROM read_parquet('{run_dir}/check/{q}/*.parquet')")
            want = check.load_sorted(con, sql)
        except Exception as e:          # a failing oracle or result is a mismatch
            bad[q] = f"{type(e).__name__}: {e}"
            continue
        if got != want:
            bad[q] = f"result differs from oracle ({len(got[1])} vs {len(want[1])} rows)"
    return bad


def unit(name):
    if name.endswith("_frac") or name.endswith("_passes") or name == "io.governance_tax":
        return "1"
    if name.endswith("_bytes_per_op"):
        return "bytes/op"
    if name.endswith("_per_op"):
        return "1/op"
    if name.endswith("calls_per_batch"):
        return "1/batch"
    if name.endswith("_s"):
        return "s"
    return "count"


END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "ops_per_s": "ops/s", "op_p50_s": "s"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = ensure_built()
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(HERE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-"
                           f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    os.makedirs(run_dir)
    data_dir = os.path.join(run_dir, "data")
    try:
        import gen
        t0 = time.time()
        gen.generate(a.workload, a.seed, data_dir)
        gen_s = time.time() - t0
        launch_ms = time.time() * 1000
        r = run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--run", run_dir, "--data", data_dir, "--repo", ROOT],
                    run_dir, deadline)
        setup_s = gen_s + (r["setup_done_ms"] - launch_ms) / 1000.0
        attempted = r["attempted"] + (r["samples_traced"] if a.trace else 0)
        failed = r["failed"] + (r["failed_traced"] if a.trace else 0)
        errors = list(r["errors"])
        if a.workload == "curation_queries":
            bad = oracle_failures(run_dir, data_dir)
            for q, why in sorted(bad.items()):
                n = r["per_kind_count"].get(q, 0) + (r["per_kind_count_traced"].get(q, 0) if a.trace else 0)
                failed += n
                errors.append(f"{q}: {why}")
        detail = {"workload": a.workload, "seed": a.seed, "samples": r["samples"],
                  "gen_s": round(gen_s, 4), "per_kind_p50_s": r["per_kind_p50_s"],
                  "errors": errors[:5], "run_dir": os.path.relpath(run_dir, ROOT)}
        if a.trace:
            metrics = {k: {"value": v, "unit": unit(k)} for k, v in r["layers"].items()}
            detail["end_to_end_traced"] = r["metrics_traced"]
        else:
            values = dict(r["metrics"], setup_s=setup_s)
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        with open(os.path.join(run_dir, "result.json"), "w") as f:
            json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
        print("detail " + json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        for d in BULKY:
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        for f in glob.glob(os.path.join(run_dir, "*.log")):
            if os.path.getsize(f) > 4 << 20:
                os.remove(f)


if __name__ == "__main__":
    main()
