#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program from the
checkout's sources (perfbench/build.sbt) into perfbench/target; later runs
reuse the build while the sources are unchanged. Everything a run writes
goes under .bench_build/ in the checkout.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json, or with --trace 1 its
per-layer metrics). The line before it holds the run's details: sample
counts, per-query times, machine facts and the trace summary. The exit code
is 0 only when every output check passed.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, else the first spark-submit on PATH that sits in a Spark
    install with a jars directory."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("no Spark install: set SPARK_HOME")


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compiles the program and the benchmark unless the sources are unchanged."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(OUT, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(OUT, 'sbt-global')}", "compile"]
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_jvm(env, classes, workload, seed, seconds, trace, work):
    if os.path.isdir(work):
        shutil.rmtree(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main", workload, str(seed), str(seconds), "1" if trace else "0",
            os.path.join(BENCH, "data", "sf0.1"), work]
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=open(os.path.join(work, "jvm.log"), "w"),
                         stdin=subprocess.DEVNULL, text=True)
    t0 = time.time()
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s", 4)
    line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH ")), None)
    if p.returncode != 0 or line is None:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"{workload} failed (exit {p.returncode})", 4)
    res = json.loads(line[len("PERFBENCH "):])
    res["detail"]["jvm_wall_s"] = round(time.time() - t0, 3)
    return res


def canon(v):
    """One comparable value per cell; floats rounded to 10 significant digits."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in canon_rows:
        h.update(r.encode())
    return h.hexdigest(), len(canon_rows)


def oracle_digest(con, sql):
    """The oracle's digest. It depends only on the SQL and the data, so it is
    computed once per checkout and kept under .bench_build/oracle."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    path = os.path.join(OUT, "oracle", key + ".json")
    if os.path.exists(path):
        return tuple(json.load(open(path)))
    exp = con.sql(sql)
    d = digest(exp.columns, exp.fetchall())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(d, fh)
    return d


def oracle_check(dump):
    """Compares each dumped headline result with its DuckDB oracle."""
    import duckdb
    data = os.path.join(BENCH, "data", "sf0.1")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = json.load(open(os.path.join(dump, "oracle.json")))
    bad = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(dump, name, "*.parquet"))
        try:
            if not files:
                raise RuntimeError("no result dumped")
            got = con.sql(f"SELECT * FROM '{os.path.join(dump, name)}/*.parquet'")
            g, e = digest(got.columns, got.fetchall()), oracle_digest(con, sql)
            if g != e:
                bad[name] = f"rows {g[1]} vs oracle {e[1]}, hash differs"
        except Exception as ex:  # a query that cannot be compared is a failed check
            bad[name] = str(ex)[:200]
    return len(oracles), bad


def measure(args, env, classes, trace):
    work = os.path.join(OUT, "run", f"{args.workload}-{'traced' if trace else 'plain'}")
    res = run_jvm(env, classes, args.workload, args.seed, args.seconds, trace, work)
    detail = dict(res["detail"])
    failed = res["failed"]
    attempted = res["attempted"]
    if args.workload == "batch_mix":
        n, bad = oracle_check(os.path.join(work, "dump"))
        detail["oracle_checked"] = n
        detail["oracle_mismatches"] = bad
        failed += len(bad)
        for name, why in bad.items():
            print(f"perfbench: {name} differs from its oracle: {why}", file=sys.stderr)
    return res, detail, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    if not os.path.isfile(spec_path) or not os.path.isdir(os.path.join(BENCH, "data", "sf0.1")):
        fail("BENCHMARK.json or perfbench/data is missing")
    spec = json.load(open(spec_path))
    workloads = [w["name"] for w in spec["workloads"]]
    if not args.selftest and args.workload not in workloads:
        fail(f"--workload must be one of {workloads}")

    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               PYTHONDONTWRITEBYTECODE="1")
    env.pop("SPARK_GRAFT_CPUS", None)
    classes = build(env)
    if args.selftest:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep +
                            os.path.join(spark_home(), "jars", "*"), "perfbench.Main",
                            "selftest", "0", "0", "0", "-", "-"], env=env)
        print("generator self-test " + ("passed" if r.returncode == 0 else "FAILED"))
        sys.exit(r.returncode)

    res, detail, attempted, failed = measure(args, env, classes, bool(args.trace))
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    values = dict(res["layers"] if args.trace else res["e2e"])

    results = os.path.join(OUT, "results", f"{args.workload}.json")
    if args.trace:
        # tracing overhead: traced minus untraced end-to-end, against the
        # latest untraced run of this workload in the checkout
        if os.path.exists(results):
            plain = json.load(open(results))
            detail["trace_overhead"] = {k: v - plain[k] for k, v in res["e2e"].items() if k in plain}
        else:
            detail["trace_overhead"] = "no untraced run of this workload in the checkout yet"
        detail["trace_self_ms"] = {k: v for k, v in values.items() if k.endswith(".self_ms")}
        detail["spans_file"] = os.path.relpath(
            os.path.join(OUT, "run", f"{args.workload}-traced", "spans.json"), ROOT)
    else:
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "w") as fh:
            json.dump(res["e2e"], fh)

    missing = [n for n in names if n not in values]
    if missing and not args.trace:
        fail(f"metrics missing from the run: {missing}", 5)
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    correct = failed == 0
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": detail}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
