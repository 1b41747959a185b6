#!/usr/bin/env python3
"""graft benchmark: one command, the workloads of BENCHMARK.json, correctness checked.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness from source with sbt on first use
(perfbench/build.sbt; offline), then runs the harness JVM
(perfbench.Main) on local[min(nproc,4)] and prints, as the last line of
standard output, one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics listed in
BENCHMARK.json; --trace 1 runs the traced mode and reports the
per-layer metrics. Everything the run writes stays under .bench_work/
in the checkout and is removed when it ends; a traced run's spans are
kept in .bench_work/spans/. The metric definitions per workload are in
perfbench/DESIGN.md.
"""
import argparse, glob, hashlib, json, math, os, shutil, subprocess, sys, time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout builds (900 s limit)
JVM_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    """Digest of every source the build compiles."""
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "perfbench-build.json")
    stamp = source_stamp()
    try:
        with open(stamp_file) as fh:
            got = json.load(fh)
        if got["stamp"] == stamp:
            return got["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    # sbt's scratch files go under the checkout, not the system temp dir
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-2000:])
        die("build printed no classpath")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def run_jvm(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and the parallel collector keep GC timing, and with it
    # the RSS high-water mark, alike from run to run
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work])
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"harness JVM failed ({rc})")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


# ---- output checks against the DuckDB oracle (the rules of the ----
# ---- program's own correctness replay: exact values, type kinds) ----

def kind(t):
    t = str(t)
    if t.startswith(("int", "uint")):
        return "INT"
    if t.startswith("decimal"):
        return "DECIMAL"
    if t in ("float", "double", "halffloat"):
        return "FLOAT"
    if t in ("string", "large_string", "string_view", "utf8", "large_utf8"):
        return "STR"
    if t.startswith("timestamp"):
        return "TIMESTAMP"
    if t.startswith(("binary", "large_binary", "binary_view")):
        return "BIN"
    return t


def canonical(tbl):
    """(sorted column names, column kinds, sorted row tuples)."""
    cols = sorted(tbl.schema.names)
    kinds = {f.name: kind(f.type) for f in tbl.schema}
    rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
    rows.sort(key=lambda t: tuple(str(x) for x in t))
    return cols, [kinds[c] for c in cols], rows


def same(a, b):
    if a[0] != b[0] or a[1] != b[1] or len(a[2]) != len(b[2]):
        return False
    for ra, rb in zip(a[2], b[2]):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not (x == y or (math.isnan(x) and math.isnan(y))):
                    return False
            elif str(x) != str(y):
                return False
    return True


def oracle_checks(res):
    """Compare the warm-up results with DuckDB, and the re-run sample
    with the warm-up results. Returns {check name: ok}."""
    import duckdb
    out = res["outputs"]
    tables = out["tables"][0]
    with open(out["oracle"][0]) as fh:
        oracle = json.load(fh)
    checks = {}
    for name, sql in sorted(oracle.items()):
        con = duckdb.connect()
        try:
            for t in sorted(os.listdir(tables)):
                if t.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                f"read_parquet('{tables}/{t}/*.parquet')")
            first = canonical(con.execute(
                f"SELECT * FROM read_parquet('{out['first'][0]}/{name}/*.parquet')").arrow())
            exp = canonical(con.execute(sql).arrow())
            checks[f"{name}.equals_oracle"] = same(first, exp)
            # an empty result would pass the comparison without testing anything
            checks[f"{name}.nonempty"] = len(first[2]) > 0
            if os.path.isdir(f"{out['last'][0]}/{name}"):
                last = canonical(con.execute(
                    f"SELECT * FROM read_parquet('{out['last'][0]}/{name}/*.parquet')").arrow())
                checks[f"{name}.same_across_iterations"] = same(first, last)
        except Exception as e:  # a missing or unreadable result fails its check
            print(f"perfbench: check {name}: {e}", file=sys.stderr)
            checks[f"{name}.equals_oracle"] = False
        finally:
            con.close()
    return checks


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        die("the program's sources (src/main/scala/graft) are not in this checkout")
    classpath = build(t0 + BUILD_DEADLINE_S)
    start = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, args, work, start + DEADLINE_S - 10)
        checks = dict(res["checks"])
        failed = res["failed"]
        attempted = res["attempted"]
        if "oracle" in res["outputs"]:
            oc = oracle_checks(res)
            checks.update(oc)
            attempted += len(oc)
            failed += sum(1 for ok in oc.values() if not ok)
        for f in res["failures"]:
            print("perfbench: failed op " + json.dumps(f), file=sys.stderr)
        for k, ok in checks.items():
            if not ok:
                print(f"perfbench: check failed: {k}", file=sys.stderr)
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            v = res["metrics"].get(m["name"])
            if v is None and args.trace:
                v = 0.0  # a layer this workload leaves idle
            if v is None:
                die(f"metric {m['name']} missing from the harness result")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            keep = os.path.join(ROOT, ".bench_work", "spans")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{args.workload}-{args.seed}.json"))
        correct = failed == 0 and all(checks.values()) and len(checks) > 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
