#!/usr/bin/env python3
"""Gateway benchmark: builds the engine and the harness from source,
runs one workload for a fixed time, checks every output against the
generator's ground truth, and prints the metrics as one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 14 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end
metrics; `--trace 1` runs the workload with the Spark listener and
spans on and prints the per-layer metrics. Build outputs, logs and the
stores live under `.bench_build/`.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
TABLES = os.path.join(BUILD, "tables")
HISTORY = os.path.join(BUILD, "history.jsonl")
HARNESS_TIMEOUT_S = 170

# JDK 17 module openings Spark needs outside spark-submit (the same
# list as the repository's build.sbt)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Newest modification time over everything the build reads."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return str(newest)


def build():
    """Compiles the engine and the harness with sbt once per checkout
    (again when a source changes) and records the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(need):
            raise SystemExit(f"perfbench: {need} is missing; run from the repository root")
    stamp = sources_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness (sbt)")
    t = time.time()
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # the latency baseline of trace.p50_delta_ms belongs to the old build
    if os.path.exists(HISTORY):
        os.remove(HISTORY)
    log(f"built in {time.time() - t:.0f} s")
    return lines[-1].strip()


def java(cp, main, args, log_path, timeout):
    """Runs one JVM in its own process group; kills the group on timeout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + OPENS + [
        # a fixed heap: peak RSS then does not depend on when G1 grows it
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={tmp}", "-cp", cp, main] + args)
    work = os.path.join(BUILD, "work")
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {main} timed out after {timeout} s (log {log_path})")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tables(cp):
    """The analytic tables of the query-family probe: the repository's
    deterministic generator at the size of its 0.1 scale factor, each
    table then merged into one parquet file, the layout the queries'
    file-stream sources expect."""
    if not os.path.exists(os.path.join(TABLES, "done")):
        import duckdb  # noqa: PLC0415
        log("generating the query tables")
        parts = TABLES + "_parts"
        shutil.rmtree(parts, ignore_errors=True)
        shutil.rmtree(TABLES, ignore_errors=True)
        code = java(cp, "graft.tools.ScaleGen", [parts, "1"],
                    os.path.join(BUILD, "logs", "tables.log"), 160)
        if code != 0:
            raise SystemExit("perfbench: table generation failed")
        os.makedirs(TABLES)
        con = duckdb.connect()
        for t in sorted(os.listdir(parts)):
            con.execute(f"COPY (SELECT * FROM '{os.path.join(parts, t)}/*.parquet') "
                        f"TO '{os.path.join(TABLES, t)}' (FORMAT PARQUET)")
        shutil.rmtree(parts)
        open(os.path.join(TABLES, "done"), "w").close()
    return TABLES


def oracle_rows(queries):
    """Row count of each query's oracle SQL in DuckDB on the same tables."""
    import duckdb  # noqa: PLC0415
    con = duckdb.connect()
    for f in os.listdir(TABLES):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                        f"'{os.path.join(TABLES, f)}'")
    return {q["name"]: con.execute(f"SELECT count(*) FROM ({q['oracle']})").fetchone()[0]
            for q in queries if q.get("oracle")}


def history_p50(workload):
    """Median client latency of this checkout's untraced runs."""
    if not os.path.exists(HISTORY):
        return None
    xs = [h["p50"] for h in map(json.loads, open(HISTORY))
          if h["workload"] == workload and h["p50"] is not None]
    return statistics.median(xs) if xs else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    shutil.rmtree(os.path.join(BUILD, "work"), ignore_errors=True)
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace),
            os.path.join(BUILD, "work", "stores"), os.path.join(BUILD, "work", "result.json")]
    if a.trace:
        args.append(tables(cp))
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    code = java(cp, "graft.perfbench.Harness", args,
                os.path.join(BUILD, "logs", f"{tag}.log"), HARNESS_TIMEOUT_S)
    if code != 0:
        raise SystemExit(f"perfbench: harness exited {code} (log .bench_build/logs/{tag}.log)")
    raw = json.load(open(os.path.join(BUILD, "work", "result.json")))

    e2e, attempted, failed, notes = stats.end_to_end(raw)
    for line in notes:
        print(line)
    for r in stats.rungs(raw):
        print(f"ladder rung {r['rate_rps']} req/s: offered {r['offered_sps']:.0f} samples/s, "
              f"acknowledged {r['acked_sps']:.0f}, tail p{r['tail_pct']:.1f} "
              f"{r['tail_ms']:.0f} ms (n={r['n']}), passed={r['passed']}")
    print(f"failed {len(failed)} of {len(attempted)}")
    for o in failed[:10]:
        print(f"  failed {o[stats.KIND]} {o[stats.NAME]}: {o[stats.ERROR][:200]}")
    # outside the workload's operations: the warm-up pass and the
    # known-defect probe (see perfbench/NOTES.md)
    for o in raw["ops"]:
        if o[stats.KIND] in ("warm", "defect") and not o[stats.OK]:
            print(f"  {o[stats.KIND]} {o[stats.NAME]} failed: {o[stats.ERROR][:200]}")
    print(f"load: loadavg {raw['loadavg_start']} -> {raw['loadavg_end']}; generator late p50 "
          f"{statistics.median(raw['generator_late_ms'] or [0.0]):.2f} ms; control (GET /series) "
          f"median {stats.control_ms(raw):.1f} ms")

    # a failed operation (non-2xx, exception or wrong answer) fails the
    # run: every operation of these workloads is expected to succeed
    correct = not failed
    if a.trace:
        metrics = stats.per_layer(raw, history_p50(a.workload))
        counts = oracle_rows(raw["queries"])
        for q in raw["queries"]:
            want = counts.get(q["name"])
            if not q["ok"] or want is None or q["rows"] != want or q["rows"] == 0:
                correct = False
                print(f"query {q['name']}: rows {q.get('rows')} oracle {want} "
                      f"{q.get('error', '')}")
        out = {k: {"value": metrics[k], "unit": u} for k, u in per_layer_units()}
    else:
        with open(HISTORY, "a") as h:
            h.write(json.dumps({"workload": a.workload, "p50": stats.client_p50(raw)}) + "\n")
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(os.path.join(BUILD, "work", "stores"), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(attempted), "failed": len(failed),
                      "metrics": out}))


def per_layer_units():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


if __name__ == "__main__":
    main()
