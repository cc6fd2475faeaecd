#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload ksql_push --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt on first use
(perfbench/build.sbt depends on the repo's root project), launches the
harness JVM, checks the outputs and prints every metric by name with its
unit. The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, from a traced run (spans are written to
.bench_build/perfbench/spans/), plus the tracing overhead against an
untraced run of the same seed. The exit code is 0 only when every output
check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BENCH, "target", "runtime-classpath.txt")
JVM_TIMEOUT_S = 170
SUITE_DATA_SEED = 42
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Hash of every file the build reads, so an edited tree is rebuilt."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, BENCH):
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
        files += glob.glob(os.path.join(base, "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
    for p in sorted(f for f in files if os.path.isfile(f)):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath is current for this tree."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main/scala) "
                         "are not in this checkout; nothing to build")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt (first run in this checkout)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: sbt build failed (exit {r.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(a, trace, run_dir, data_dir):
    """One harness JVM; returns its parsed result line."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(run_dir, "out"), exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dderby.system.home={run_dir}",
           "-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", "1" if trace else "0", "--work", run_dir]
    if data_dir:
        cmd += ["--data", data_dir]
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    with open(os.path.join(run_dir, "stderr.log")) as f:
        for ln in f:
            if ln.startswith("[perfbench"):
                sys.stderr.write(ln)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    host = next((json.loads(ln)["host"] for ln in lines if ln.startswith('{"host"')), None)
    if p.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        with open(os.path.join(run_dir, "stderr.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exit {p.returncode}:\n{tail}")
    res = json.loads(lines[-1])
    res["host"] = host
    return res


def oracle_check(data_dir, out_dir):
    """Each dumped result against its DuckDB oracle SQL (columns sorted by
    name, rows sorted, exact values); rows without oracle SQL must not be
    empty. Returns a list of problems."""
    import duckdb
    import numpy as np
    import pandas as pd

    con = duckdb.connect()
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def canon(df):
        df = df[sorted(df.columns)]
        if len(df) and len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
        return df

    problems = []
    for d in sorted(x for x in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, x))):
        files = glob.glob(os.path.join(out_dir, d, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
        if got is None:
            problems.append(f"{d}: no output")
            continue
        if d not in oracles:
            if len(got) == 0:
                problems.append(f"{d}: no rows (no oracle)")
            continue
        try:
            want = con.execute(oracles[d]).df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            problems.append(f"{d}: oracle SQL error {e}")
            continue
        a, b = canon(got), canon(want)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            problems.append(f"{d}: shape {list(a.columns)}x{len(a)} vs {list(b.columns)}x{len(b)}")
            continue
        for c in a.columns:
            if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
                same = np.isclose(a[c].values.astype(float), b[c].values.astype(float),
                                  rtol=0, atol=0, equal_nan=True).all()
            else:
                bc = b[c] if a[c].dtype == b[c].dtype else b[c].astype(a[c].dtype)
                same = a[c].equals(bc)
            if not same:
                problems.append(f"{d}: column {c} differs from the oracle")
                break
    return problems


def measure(a, trace):
    """Build inputs, run the harness once, check outputs."""
    data_dir = None
    if a.workload == "suite":
        # one fixed table set, like the parquet testdata; --seed sets the
        # order of the pass
        data_dir = os.path.join(WORK, "data", f"tables{SUITE_DATA_SEED}")
        if not os.path.exists(os.path.join(data_dir, "embeddings.parquet")):
            subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), data_dir,
                            str(SUITE_DATA_SEED)], check=True, timeout=120)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{'t' if trace else 'u'}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(a, trace, run_dir, data_dir)
        if a.workload == "suite":
            res["problems"] += oracle_check(data_dir, os.path.join(run_dir, "out"))
        if trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            spans = os.path.join(WORK, "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-seed{a.seed}.jsonl"))
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    s = spec()
    if a.workload not in [w["name"] for w in s["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    build()

    # an untraced result of this build, workload, seed and length is the
    # baseline of a traced run's overhead; make one only if none is kept
    kept = os.path.join(WORK, "results", f"{a.workload}-{a.seed}-{a.seconds}.json")
    try:
        with open(kept) as f:
            res = json.load(f)
        if not a.trace or res.get("build") != open(os.path.join(WORK, "build.stamp")).read():
            res = None
    except (OSError, ValueError):
        res = None
    try:
        if res is None:
            res = measure(a, trace=False)
            res["build"] = open(os.path.join(WORK, "build.stamp")).read()
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            with open(kept, "w") as f:
                json.dump(res, f)
        traced = measure(a, trace=True) if a.trace else None
    except (RuntimeError, subprocess.SubprocessError) as e:
        print(f"check failed: {e}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    problems = list(res["problems"])
    got = res["metrics"]
    if traced:
        problems += traced["problems"]
        base, with_trace = got["read_ms"]["value"], traced["metrics"]["read_ms"]["value"]
        got = dict(traced["metrics"])
        got["trace.overhead_ms"] = {"value": with_trace - base, "unit": "ms"}
        got["trace.overhead_pct"] = {"value": 100.0 * (with_trace - base) / base, "unit": "%"}
        wanted = s["per_layer"]
    else:
        wanted = s["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}  # layer not on this workload
        else:
            problems.append(f"metric {m['name']} was not measured")
    run = traced or res
    correct = res["correct"] and run["correct"] and not problems
    print(f"host: {json.dumps(run['host'])}")
    for p in problems:
        print(f"check failed: {p}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": run["attempted"],
                      "failed": run["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
