#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: betting ETL, LLM curation and the
push stream, run against the engine's public API from outside the program.

    python3 perfbench/run.py --workload <betting_etl|llm_curation|push_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's sources
and the benchmark's own into `.bench_build/` (no sbt needed: scalac from
the Spark distribution's jars). Each run then starts one JVM at
`local[nproc]` with a fresh run directory as its `java.io.tmpdir` and
fixture cache, so artifacts and fixtures are built cold inside set-up.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`, each as in BENCHMARK.json). The line before it is a short
human summary; the full record (host, every sample, spans) is written to
`.bench_build/results/`.

Other modes:
    --self-test        run the benchmark's own checks (perfbench/SelfTest)
    --record-digests   rewrite perfbench/expected_digests.tsv from the
                       current engine and dump every output plus its
                       DuckDB oracle SQL for a cross-check
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_digests.tsv")
ORACLE_DUMP = os.path.join(BUILD, "oracle_dump")
WORKLOADS = ("betting_etl", "llm_curation", "push_stream")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit lives."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        die("no Spark distribution found: set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not engine:
        die("no engine sources under src/main/scala: run from the repository root")
    return engine + bench


def build():
    """Compile engine + benchmark sources once per source state."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    t = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
                        "-d", tmp, "@" + args], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("compile failed")
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t:.1f}s", file=sys.stderr)
    return out


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


# A fixed heap, committed and touched at start (-Xms = -Xmx, AlwaysPreTouch):
# the heap's share of the resident set is then the same in every run, so
# peak_rss_mb moves with native memory (RocksDB state, off-heap buffers,
# threads, code) and retained_mb reports the heap the program keeps alive.
HEAP_MB = 2048


def jvm(classes, main, args, run_dir, log_path):
    """Run one JVM with its temp, fixture and Spark dirs inside `run_dir`."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFT_FIXTURE_CACHE_DIR=os.path.join(run_dir, "fixtures"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cp = ":".join([classes] + spark_jars())
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+AlwaysPreTouch", f"-XX:ActiveProcessorCount={cores()}",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=3000):
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summary(res, trace):
    """One short line a reader can scan: error rate, latencies, rates, host."""
    m = {k: v["value"] for k, v in res["metrics"].items()}
    s = res["samples"]
    att, fail = res["attempted"], res["failed"]
    parts = [res["workload"], f"seed={res['seed']}", f"trace={int(trace)}",
             f"error_rate={fail / att if att else 1.0:.4g}"]
    if not trace:
        parts += [f"setup_s={m['setup_s']:.3f}s", f"peak_rss_mb={m['peak_rss_mb']:.0f}MB",
                  f"retained_mb={m['retained_mb']:.0f}MB"]
        if res["workload"] == "push_stream":
            sm = s["summary"]
            for rate in ("low", "high"):
                lat = sm["frame_latency_ms"][rate]
                parts.append(f"frame_latency_p50_ms.{rate}={lat['p50']:.1f}ms")
                if "=" in str(lat["tail"]):
                    p, v = lat["tail"].split("=")
                    parts.append(f"frame_latency_{p}_ms.{rate}={float(v):.1f}ms")
            parts.append(f"drain_frames_per_s={sm['drain_frames_per_s']:.0f}/s")
            parts.append(f"backlog_frames.high.max={sm['backlog_frames_high_max']:.0f}")
            parts.append(f"drain_p50_s={m['pass_p50_s']:.3f}s")
        else:
            parts.append(f"pass_p50_s={m['pass_p50_s']:.3f}s")
            parts.append(f"passes={len(s['passes'])}")
    else:
        parts += [f"trace_overhead_pct={m['bench.trace_overhead_pct']:.1f}%",
                  f"spark.jobs={m['spark.jobs']:.0f}"]
    h = res["host"]
    parts.append(f"host={h['master']} heap={h['heap_max_mb']}MB "
                 f"load={h['loadavg_start']}->{h['loadavg_end']}")
    if res["failures"]:
        parts.append("first_failure=" + res["failures"][0][:200])
    return "summary: " + " ".join(parts)


def run(ns):
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        die(f"missing benchmark input tables under {DATA}")
    classes = build()
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    tag = f"{ns.workload}-s{ns.seed}-t{ns.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(BUILD, "results", tag + ".json")
    log = os.path.join(BUILD, "results", tag + ".log")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", ns.workload, "--seed", str(ns.seed), "--seconds", str(ns.seconds),
            "--trace", str(ns.trace), "--data", DATA, "--run-dir", run_dir, "--out", out,
            "--cores", str(cores()), "--expected", EXPECTED]
    try:
        code = jvm(classes, "perfbench.Main", args, run_dir, log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(tail(log))
        die(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; log: {log}")
    with open(out) as f:
        res = json.load(f)
    bench = spec()
    got = list(res["metrics"])
    want = [m["name"] for m in bench["per_layer" if ns.trace else "end_to_end"]]
    if ns.workload not in [w["name"] for w in bench["workloads"]]:
        want = got  # a workload off the board reports whatever it measures
    elif sorted(want) != sorted(got):
        die(f"metric set differs from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}")
    print(summary(res, ns.trace == 1))
    metrics = {k: {"value": res["metrics"][k]["value"], "unit": res["metrics"][k]["unit"]}
               for k in want}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def record_digests():
    """Rewrite the expected digests from the engine as it is now."""
    shutil.rmtree(ORACLE_DUMP, ignore_errors=True)
    os.makedirs(ORACLE_DUMP)
    rows = []
    for w in ("betting_etl", "llm_curation"):
        classes = build()
        run_dir = os.path.join(BUILD, "runs", f"record-{w}-{os.getpid()}")
        os.makedirs(run_dir, exist_ok=True)
        out = os.path.join(BUILD, "results", f"record-{w}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        log = out[:-5] + ".log"
        sub = os.path.join(ORACLE_DUMP, w)
        os.makedirs(sub, exist_ok=True)
        args = ["--workload", w, "--seed", "1", "--seconds", "0", "--trace", "0", "--data", DATA,
                "--run-dir", run_dir, "--out", out, "--cores", str(cores()),
                "--expected", os.devnull, "--dump", sub]
        try:
            code = jvm(classes, "perfbench.Main", args, run_dir, log)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if code is None or not os.path.exists(out):
            sys.stderr.write(tail(log))
            die(f"record run for {w} failed")
        with open(out) as f:
            res = json.load(f)
        rows += sorted(res["samples"]["digests"].items())
    with open(EXPECTED, "w") as f:
        f.write("# query<TAB>schema-md5:rows:sum-of-row-xxhash64 (perfbench/run.py --record-digests)\n")
        for k, v in rows:
            f.write(f"{k}\t{v}\n")
    print(f"wrote {len(rows)} digests to {EXPECTED}; outputs + oracle_sql.json under {ORACLE_DUMP}/<workload>")


def self_test():
    classes = build()
    run_dir = os.path.join(BUILD, "runs", f"selftest-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    log = os.path.join(BUILD, "selftest.log")
    try:
        code = jvm(classes, "perfbench.SelfTest", [run_dir], run_dir, log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write("\n".join(l for l in tail(log, 20000).splitlines() if l.startswith("selftest")) + "\n")
    sys.exit(0 if code == 0 else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    ns = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        die("run from the repository root (BENCHMARK.json not found)")
    if ns.self_test:
        self_test()
    elif ns.record_digests:
        record_digests()
    elif ns.workload:
        run(ns)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
