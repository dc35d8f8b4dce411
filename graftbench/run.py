#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage (from the repository root):

    python3 graftbench/run.py --workload olap_lang --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --seed-check

Builds the engine (src/main/scala) and the benchmark (graftbench/src) with
scalac into the build directory when their sources changed, runs the
workload in one JVM with Spark at local[<cores>], and prints as its last
line one JSON object: correct, attempted, failed and the metrics that
BENCHMARK.json lists (end_to_end with --trace 0, per_layer with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 needs the --add-opens outside spark-submit (as in
# build.sbt). The class archive is only usable by JVMs started with the
# same flags, so training and measured runs share this list.
JVM_FLAGS = [
    x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, *extra):
    h = hashlib.sha256()
    for e in extra:
        h.update(e.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(path, stamp):
    """Whether `path` exists and was built from `stamp`."""
    try:
        with open(path + ".stamp") as fh:
            return os.path.exists(path) and fh.read() == stamp
    except OSError:
        return False


def stamped(path, stamp):
    with open(path + ".stamp", "w") as fh:
        fh.write(stamp)


def scalac(name, files, classpath, stamp):
    """Compile `files` into BUILD/<name>.jar unless it is fresh."""
    jar = os.path.join(BUILD, name + ".jar")
    if fresh(jar, stamp):
        return jar
    jars = [glob.glob(os.path.join(SPARK_JARS, f"scala-{j}-2.13*.jar"))
            for j in ("compiler", "library", "reflect")]
    if not all(jars):
        fail(f"no scala 2.13 compiler jars under {SPARK_JARS}")
    tmp = os.path.join(BUILD, name + ".classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           ":".join(j[0] for j in jars), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed")
    # a jar, not a directory: the class archive only covers jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(tmp):
            for f in names:
                z.write(os.path.join(d, f),
                        os.path.relpath(os.path.join(d, f), tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)
    stamped(jar, stamp)
    print(f"graftbench: built {name} in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return jar


def build():
    """Compile what changed; returns (classpath, class archive or None)."""
    engine_files = sources(ENGINE_SRC)
    bench_files = sources(BENCH_SRC)
    if not engine_files:
        fail(f"no engine sources under {ENGINE_SRC}")
    if not bench_files:
        fail(f"no benchmark sources under {BENCH_SRC}")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    engine_stamp = digest(engine_files)
    engine = scalac("engine", engine_files, spark_cp, engine_stamp)
    bench_stamp = digest(bench_files, engine_stamp)
    bench = scalac("bench", bench_files, engine + ":" + spark_cp, bench_stamp)
    classpath = ":".join([bench, engine, spark_cp])
    return classpath, class_archive(classpath, bench_stamp)


def class_archive(classpath, stamp):
    """A class-data-sharing archive of the classes a short pass over every
    workload loads: it cuts JVM and Spark start-up in every measured run.
    Returns None (and runs go without it) if the JVM cannot make one."""
    jsa = os.path.join(BUILD, "classes.jsa")
    if fresh(jsa, stamp):
        return jsa
    if os.path.exists(jsa):
        os.remove(jsa)
    train_dir = os.path.join(BUILD, "train")
    shutil.rmtree(train_dir, ignore_errors=True)
    os.makedirs(train_dir)
    t0 = time.time()
    flags, env = in_dir(train_dir)
    try:
        r = subprocess.run(
            ["java", *JVM_FLAGS, "-XX:ArchiveClassesAtExit=" + jsa,
             "-Xlog:cds=off", *flags,
             "-cp", classpath, "graftbench.Train", "--dir", train_dir,
             "--cores", str(cores())],
            cwd=train_dir, stdout=sys.stderr, stderr=sys.stderr, timeout=600,
            env=env)
        ok = r.returncode == 0 and os.path.exists(jsa)
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(train_dir, ignore_errors=True)
    if not ok:
        print("graftbench: no class archive; running without one",
              file=sys.stderr)
        return None
    stamped(jsa, stamp)
    print(f"graftbench: class archive in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return jsa


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def in_dir(run_dir):
    """JVM flags and environment that keep a JVM's files in `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    return ["-Djava.io.tmpdir=" + tmp], env


def java(classpath, jsa, main, args, run_dir):
    """Run a benchmark main in its own JVM; returns its stdout lines."""
    cds = ["-XX:SharedArchiveFile=" + jsa] if jsa else []
    flags, env = in_dir(run_dir)
    cmd = ["java", *JVM_FLAGS, *cds, *flags, "-cp", classpath, main] + args
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{main} did not finish within {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        fail(f"{main} exited with code {proc.returncode}")
    return out.splitlines()


def same_rows(got, want, ordered):
    """Same rows, doubles within 1e-7 relative. Unordered results are
    compared after sorting on their non-double columns, which are unique
    in every olap_lang template's output."""
    def key(row):
        return tuple(v for v in row if not isinstance(v, float))
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not (isinstance(a, (int, float)) and
                        isinstance(b, (int, float)) and
                        abs(a - b) <= 1e-7 * max(abs(a), abs(b), 1e-300)):
                    return False
            elif a != b:
                return False
    return True


def check_olap(path):
    """Compare every olap_lang result the JVM recorded with DuckDB running
    the op's reference SQL over the same parquet files. Returns the
    numbers of timed and of warmup ops whose results differ."""
    import duckdb
    con = duckdb.connect()
    refs = {}
    bad = {"timed": 0, "warmup": 0}
    with open(path) as fh:
        for t, p in json.loads(fh.readline())["tables"].items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
        for line in fh:
            r = json.loads(line)
            if r["sql"] not in refs:
                cur = con.execute(r["sql"])
                refs[r["sql"]] = ([d[0] for d in cur.description],
                                  [list(x) for x in cur.fetchall()])
            cols, rows = refs[r["sql"]]
            # align the reference's columns to the result's by name
            ok = sorted(cols) == sorted(r["columns"])
            if ok:
                idx = [cols.index(c) for c in r["columns"]]
                ok = same_rows(r["rows"], [[x[i] for i in idx] for x in rows],
                               r["ordered"])
            if not ok:
                bad["timed" if r["op"] >= 0 else "warmup"] += 1
                print(f"graftbench: op {r['op']} differs from DuckDB: "
                      f"{r['sql']}", file=sys.stderr)
    return bad["timed"], bad["warmup"]


def main():
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed-check", action="store_true",
                    help="check that op sequences and inputs follow the seed")
    a = ap.parse_args()
    if not a.seed_check and not a.workload:
        ap.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath, jsa = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.seed_check:
            lines = java(classpath, jsa, "graftbench.SeedCheck",
                         ["--dir", run_dir, "--cores", str(cores())], run_dir)
            print("\n".join(lines))
            return
        trace_out = os.path.join(
            BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        lines = java(classpath, jsa, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", run_dir, "--cores", str(cores()),
            "--trace-out", trace_out], run_dir)
        results = os.path.join(run_dir, "olap_results.jsonl")
        checked = os.path.exists(results)
        differ, warm_differ = check_olap(results) if checked else (0, 0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    for line in lines:
        if line.startswith("GRAFTBENCH "):
            result = json.loads(line[len("GRAFTBENCH "):])
        else:
            print(line)
    if result is None:
        fail("the benchmark printed no result")
    if checked:
        print(f"duckdb check: {differ} timed and {warm_differ} warmup "
              "results differ")
    failed = min(result["attempted"], result["failed"] + differ)
    listed = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in listed:
        if m["name"] not in result["metrics"]:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": result["metrics"][m["name"]],
                              "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"] and differ == 0 and
                      warm_differ == 0,
                      "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
