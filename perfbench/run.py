#!/usr/bin/env python3
"""Repo benchmark: build the engine from source, run one workload in one JVM,
check its outputs, print one JSON result line.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Classes are compiled with the Scala
compiler that ships with Spark into .bench_build/ (rebuilt when a source
changes), with a class-data-sharing archive of a Spark session start; each
run works in .bench_work/<workload>/. With --trace 0 the
result holds every end-to-end metric of BENCHMARK.json, with --trace 1 every
per-layer metric (0 for a layer the workload does not run; see FOREIGN).
The exit code is non-zero on any correctness mismatch or failure.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BUILD, "bench.jar")
JSA = os.path.join(BUILD, "app.jsa")
JVM_TIMEOUT_S = 165
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Per-layer metrics of layers a workload does not run, by name prefix. A traced
# run reports them as 0; any other listed metric it did not measure is an error.
DATAPIPE_KEYS = ["dedup_minhash", "dedup_simhash", "dedup_canonical", "dedup_clusters",
                 "link_rank", "embed_ann_ivf", "corpus_pipeline"]
FOREIGN = {
    "crawl_deep": tuple(f"{k}." for k in DATAPIPE_KEYS),
    "corpus_analytics": ("engine.", "round.", "catalog.", "sketch.", "core.", "expr.",
                         "oracle."),
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the ones the pyspark package ships."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    import importlib.util
    spec = importlib.util.find_spec("pyspark")
    if spec is None or spec.origin is None:
        die("set SPARK_HOME to a Spark installation")
    return os.path.join(os.path.dirname(spec.origin), "jars")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        die(f"no program sources under {main}; run from the root of a checkout")
    own = os.path.join(HERE, "src")
    found = sorted(glob.glob(f"{main}/**/*.scala", recursive=True)) + \
        sorted(glob.glob(f"{own}/**/*.scala", recursive=True))
    return found


def build():
    """Compile program + benchmark sources into one jar, once per source
    state, and archive the classes a session start loads."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        for p in (stamp_file, JAR, JSA):
            if os.path.exists(p):
                os.remove(p)
        cp = f"{spark_jars()}/*"
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", JAR, "-classpath", cp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-6000:])
            die("compilation failed")
        archive_classes()
        with open(stamp_file, "w") as f:
            f.write(stamp)


def archive_classes():
    """Dump a class-data-sharing archive from one JVM that starts a Spark
    session: later runs map those classes instead of loading them, which
    takes about 8 s off every session start. Without the archive the runs
    still work, only slower to start."""
    work = os.path.join(BUILD, "train")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(work, [f"-XX:ArchiveClassesAtExit={JSA}"]) + [
        "--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--work", work, "--out", os.path.join(work, "none.json")]
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       env=java_env(work), timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        if os.path.exists(JSA):
            os.remove(JSA)
    shutil.rmtree(work, ignore_errors=True)


def java_cmd(work, extra=()):
    # C1 only: a run's JVM lives about a minute on 4 cores, and C2 compile
    # threads competing with the 4 task threads cost more than they return
    # no perf-data file: the JVM would write it under /tmp, outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1", "-Xss4m", *extra,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{JAR}:{spark_jars()}/*", "perfbench.BenchMain"]


def java_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def run_jvm(args, work):
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    share = [f"-XX:SharedArchiveFile={JSA}"] if os.path.exists(JSA) else []
    cmd = java_cmd(work, share) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out]
    if args.small:
        cmd.append("--small")
    if args.corrupt_digest:
        cmd.append("--corrupt-digest")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=java_env(work),
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"benchmark JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def check_analytics(res, corrupt):
    """Compare every sweep's result of every key with its oracle SQL run in
    DuckDB over the same input tables (columns sorted by name, rows as sorted
    multisets). Returns (attempted, failed, notes)."""
    import duckdb
    import pyarrow.parquet as pq
    extra = res["extra"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(extra["input"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(extra["oracle_sql"]) as f:
        oracle = json.load(f)
    attempted = failed = 0
    notes = []
    for key, sql in sorted(oracle.items()):
        duck = con.execute(sql).fetch_arrow_table()
        cols = sorted(duck.schema.names)
        want = sorted(tuple(str(r[c]) for c in cols) for r in duck.select(cols).to_pylist())
        if corrupt and want:
            want[0] = ("corrupted",) + want[0][1:]
        for sweep in extra["results"].split("\n"):
            attempted += 1
            got_t = pq.read_table(os.path.join(sweep, key))
            if sorted(got_t.schema.names) != cols:
                failed += 1
                notes.append(f"MISMATCH {key} {sweep}: columns {sorted(got_t.schema.names)} vs {cols}")
                continue
            got = sorted(tuple(str(r[c]) for c in cols) for r in got_t.select(cols).to_pylist())
            if got != want:
                failed += 1
                notes.append(f"MISMATCH {key} {sweep}: {len(got)} vs {len(want)} rows")
    return attempted, failed, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["crawl_deep", "corpus_analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="self-test size: a few hundred pages, two rounds")
    ap.add_argument("--corrupt-digest", action="store_true",
                    help="corrupt one expected value; the correctness gate must trip")
    args = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        die("BENCHMARK.json not found; run from the root of a checkout")
    with open(bench_path) as f:
        spec = json.load(f)
    build()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, work)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(ROOT, ".bench_work", f"{args.workload}.spans.jsonl"))
        attempted, failed, notes = res["attempted"], res["failed"], list(res["notes"])
        if args.workload == "corpus_analytics":
            a, fl, n = check_analytics(res, args.corrupt_digest)
            attempted, failed, notes = attempted + a, failed + fl, notes + n
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for n in notes:
        print(n, file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["metrics"]
    unknown = set(got) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if unknown:
        die(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            if not (args.trace and m["name"].startswith(FOREIGN[args.workload])):
                die(f"metric {m['name']} was not measured")
            v = {"value": 0.0, "unit": m["unit"]}  # a layer this workload does not run
        if v["unit"] != m["unit"]:
            die(f"metric {m['name']}: unit {v['unit']} != {m['unit']}")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
