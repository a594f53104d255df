#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The script
  1. builds the engine plus the harness from source (perfbench/build.sbt),
     once per source state;
  2. generates the workload's inputs from the seed (gen.py);
  3. runs the harness JVM: set-up, warm-up, the timed window, output checks;
  4. checks batch_curation's results against their DuckDB oracle SQL;
  5. prints one metric per line, then the result as one JSON line.

It exits non-zero, without a result line, when the checkout holds no
engine sources or a step fails, and exits 1 after the result line when an
output check failed. Everything it writes stays under perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("stream_ingest", "serve_reference", "batch_curation")

# stream_ingest's open loop: one tick (a simulated hour of traffic) every
# TICK_PERIOD_MS, delivered in DELIVERIES equal slices spread over the
# period, and a processing-time trigger of the same period on every query.
# The period is calibrated on the seed code so that every query's trigger
# fits in it on four cores: each trigger takes one tick, and latency does
# not grow across the window. WARM_TICKS ticks run on the same schedule
# before timing.
TICK_PERIOD_MS = 10000
DELIVERIES = 10
WARM_TICKS = 2

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_hash() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ENGINE_SRC}/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(env: dict) -> str:
    """Compile engine + harness once per source state; return the
    runtime classpath."""
    stamp = os.path.join(OUT, "build", source_hash(), "classpath.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=800)
        fh.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        fail(f"build failed, see {os.path.relpath(log, ROOT)}")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def inputs(seed: int, seconds: int) -> str:
    per_window = math.ceil(seconds * 1000 / TICK_PERIOD_MS)
    ticks = WARM_TICKS + 2 * per_window + 2
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    d = os.path.join(OUT, "inputs", f"seed{seed}-ticks{ticks}-{version}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import gen
        gen.generate(d, seed, ticks)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def oracle_check(tables: str, work: str, res: dict) -> None:
    """batch_curation: compare each query's result with its DuckDB oracle
    (the SQL SparkEntry carries), sorting columns and rows first, as the
    repository's correctness gate does. A mismatch fails every op of it."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in glob.glob(f"{tables}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    bad = []
    for q in res.get("ops_by_query", {}):
        files = sorted(glob.glob(f"{work}/results/{q}/*.parquet"))
        if q not in sql:
            bad.append((q, "no oracle SQL"))
            continue
        if not files:
            bad.append((q, "no output"))
            continue
        got = norm(pq.ParquetDataset(files).read().to_pandas())
        exp = norm(con.execute(sql[q]).df())
        if list(got.columns) != list(exp.columns):
            bad.append((q, f"columns {list(got.columns)} vs {list(exp.columns)}"))
        elif len(got) != len(exp):
            bad.append((q, f"{len(got)} rows vs oracle {len(exp)}"))
        else:
            for c in got.columns:
                g, e = got[c], exp[c]
                if g.dtype != object and e.dtype != object:
                    same = (g.astype("float64").fillna(-1e308) ==
                            e.astype("float64").fillna(-1e308)).all()
                else:
                    same = (g.astype(str) == e.astype(str)).all()
                if not same:
                    bad.append((q, f"column {c} differs from the oracle"))
                    break
    for q, why in bad:
        res["problems"].append(f"{q}: {why}")
        res["failed"] = min(res["attempted"],
                            res["failed"] + res["ops_by_query"].get(q, 0))
    res["correct"] = res["correct"] and not bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("no engine sources under src/main/scala; run from a checkout root")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    cp = build(env)
    ind = inputs(a.seed, a.seconds)
    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else "java"
    # cpu_ms_per_op leaves out the JIT compiler threads' CPU, which needs
    # them alive for the whole run
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.sql.session.timeZone=UTC",
           # serve_reference's clients open a connection per request: with
           # keep-alive, HttpServer left 1-2 requests of every 20 s window
           # unanswered for 7-22 s while it served the other clients
           "-Dhttp.keepAlive=false"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--period-ms", str(TICK_PERIOD_MS), "--deliveries", str(DELIVERIES),
            "--warm-ticks", str(WARM_TICKS),
            "--inputs", ind, "--work", work, "--result", result]
    log = os.path.join(OUT, f"{a.workload}.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=fh,
                               stderr=subprocess.STDOUT, timeout=170)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {os.path.relpath(log, ROOT)}", 3)
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"harness failed ({p.returncode}), see {os.path.relpath(log, ROOT)}", 3)
    res = json.load(open(result))
    if "oracle" in res.get("pending_checks", []):
        oracle_check(os.path.join(ind, "tables"), work, res)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(
            OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    e2e, layers = res["end_to_end"], res.get("per_layer", {})
    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)),
                                  "unit": m["unit"]}
        for k in sorted(set(layers) - set(metrics)):
            print(f"note: unlisted layer metric {k} = {layers[k]}")
        for n in res.get("trace_notes", []):
            print(f"note: {n}")
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": float(e2e[m["name"]]),
                                  "unit": m["unit"]}
    failed_frac = res["failed"] / max(1, res["attempted"])
    if "ms_by_query" in res:
        print("median ms by query:", json.dumps(res["ms_by_query"]))
    n, tail = res["latency_samples"], res["tail_pct"]
    print(f"workload {a.workload} seed {a.seed}: {res['attempted']} ops, "
          f"{n} latency samples, tail = p{int(tail)}, "
          f"JIT {res['window_jit_ms']} ms, GC {res['window_gc_ms']} ms and "
          f"{res['window_codegen_compiles']} codegen compiles in the window")
    if n * (1 - tail / 100) < 10:
        print(f"note: fewer than 10 latency samples lie beyond p{int(tail)}")
    if "latency_halves_ms" in res:
        h = res["latency_halves_ms"]
        print(f"latency p50 over the window's first / second half of deliveries: "
              f"{h[0]:.0f} / {h[1]:.0f} ms")
    if "trigger_ms_p50" in res:
        print("trigger ms p50 by query in the window:", json.dumps(res["trigger_ms_p50"]))
    for p in res["problems"]:
        print(f"check failed: {p}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"failed_frac {failed_frac:.6g} 1")
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
