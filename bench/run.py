#!/usr/bin/env python3
"""The repository's benchmark: one workload, closed loop, checked outputs.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (offline) into `bench/target`; later
runs reuse that build while the sources are unchanged. Each run then

  1. makes one temp root under `.bench_tmp/` (tables, oracle results,
     sink, checkpoints, Spark local and warehouse dirs, JVM temp files) and
     deletes it on exit;
  2. for a query workload, generates the tables from the seed and evaluates
     each query's DuckDB oracle twin on them;
  3. starts the JVM program (`bench.Main`), which stages the workload, warms
     up with one untimed pass, measures passes for `--seconds`, checks every
     op's output and prints the metrics.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The exit code is 0 only if
every op ran and every output was right. See `bench/README.md`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

LAUNCHED = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "bench-build.json")
ORACLES = os.path.join(BUILD_DIR, "oracles.json")

WORKLOADS = {
    "kline_sync": None,
    "olap_mix": 0.01,
    "dedup_heavy": 0.01,
    "stream_admission": 0.01,
}
TINY_SF = 0.001
JVM_DEADLINE_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Compile with sbt and record the runtime classpath; reuse it while
    the sources hash the same."""
    if os.path.exists(STAMP) and os.path.exists(ORACLES):
        with open(STAMP) as fh:
            rec = json.load(fh)
        if rec.get("stamp") == stamp:
            return rec["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if r.returncode != 0:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail("sbt build failed (log: bench/target/build.log)")
    cp = [x for x in lines if ".jar" in x and not x.startswith("[")]
    if not cp:
        fail("sbt printed no runtime classpath")
    classpath = cp[-1].strip()
    subprocess.run(java_cmd(classpath, os.path.join(BUILD_DIR, "jtmp")) +
                   ["bench.DumpOracles", ORACLES], check=True,
                   stdin=subprocess.DEVNULL)
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def java_cmd(classpath, jtmp):
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={jtmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def stage_queries(workload, seed, tmp, sf):
    """Generate the tables and evaluate the workload's oracle twins."""
    sys.path.insert(0, HERE)
    import duckdb
    import gen
    data = os.path.join(tmp, "data")
    oracle = os.path.join(tmp, "oracle")
    os.makedirs(oracle)
    gen.write(data, sf, seed)
    with open(ORACLES) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 1}")
    con.execute("SET enable_progress_bar=false")
    con.execute(f"SET temp_directory='{os.path.join(tmp, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    for name in spec["workloads"][workload]:
        q = spec["sql"][name].strip().rstrip(";")
        try:
            # the twins carry resource pins as leading SET statements; the
            # thread count and the spill directory stay the run's own
            while q.upper().startswith("SET "):
                stmt, q = q.split(";", 1)
                q = q.strip()
                if "threads" not in stmt and "temp_directory" not in stmt:
                    con.execute(stmt)
            con.execute(f"COPY ({q}) TO "
                        f"'{os.path.join(oracle, name + '.parquet')}' "
                        "(FORMAT PARQUET)")
        except Exception as e:  # recorded; the op then counts as failed
            with open(os.path.join(oracle, name + ".err"), "w") as fh:
                fh.write(str(e))
    con.close()
    return data, oracle


def commit():
    """HEAD of the checkout, or "none" when the tree is no git checkout of
    its own (the source stamp still identifies it)."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") != \
                os.path.realpath(ROOT):
            return "none"
        return git("rev-parse", "HEAD") or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    # self-test hooks (bench/selftest.py); never part of a measured run
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-digest", help=argparse.SUPPRESS)
    ap.add_argument("--skip-sync-pass", help=argparse.SUPPRESS)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM and the temp root
    # are cleaned up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = source_stamp()
    classpath = build(stamp)

    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}-{int(LAUNCHED)}")
    os.makedirs(tmp)
    proc = None
    try:
        print("BENCH_AUDIT " + json.dumps({
            "commit": commit(), "source_stamp": stamp, "cpus": os.cpu_count(),
            "loadavg": open("/proc/loadavg").read().strip()}), flush=True)
        t0 = time.time()
        data = oracle = ""
        if WORKLOADS[a.workload] is not None:
            sf = TINY_SF if a.tiny else WORKLOADS[a.workload]
            data, oracle = stage_queries(a.workload, a.seed, tmp, sf)
        print(f"BENCH_AUDIT {{\"oracle_staging_s\": {time.time() - t0:.3f}}}",
              flush=True)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--tmp", tmp, "--data", data, "--oracle", oracle,
                "--launched-ms", str(int(time.time() * 1000))]
        if a.tiny:
            args += ["--tiny", "1"]
        if a.corrupt_digest:
            args += ["--corrupt-digest", a.corrupt_digest]
        if a.skip_sync_pass:
            args += ["--skip-sync-pass", a.skip_sync_pass]
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_")}
        env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        jvm_start = time.time()
        proc = subprocess.Popen(
            java_cmd(classpath, os.path.join(tmp, "jtmp")) +
            ["bench.Main"] + args, cwd=tmp, env=env, stdout=subprocess.PIPE,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        results = []

        def relay():
            for line in proc.stdout:
                if line.startswith("BENCH_RESULT "):
                    results.append(line[len("BENCH_RESULT "):].strip())
                else:
                    print(line, end="", flush=True)

        reader = threading.Thread(target=relay, daemon=True)
        reader.start()
        try:
            code = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {JVM_DEADLINE_S} s")
        reader.join(timeout=10)
        result = results[-1] if results else None
        if result is None:
            fail(f"the JVM exited with code {code} without a result")
        json.loads(result)
        print("BENCH_AUDIT " + json.dumps({
            "jvm_s": round(time.time() - jvm_start, 3),
            "total_s": round(time.time() - LAUNCHED, 3)}), flush=True)
        print(result, flush=True)
        sys.exit(0 if code == 0 else 1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
