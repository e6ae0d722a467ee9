#!/usr/bin/env python3
"""graft's benchmark of record.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with the Scala compiler shipped in Spark's jars (into
$CARGO_TARGET_DIR, default .bench_build). Each run generates its workload's
inputs from the seed, starts one JVM on a session from
graft.core.GraftSession.builder (local[nproc]), measures the workload,
checks its outputs against DuckDB, writes an artifact under .bench_runs/
and prints one JSON line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1 (a separate run with span recording and listeners).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402

GEN_REPS = 3              # input generations per run; the median counts toward setup_s
JVM_HEAP = "3g"
DEADLINE_S = 170          # the whole run, build excluded

# Input sizes, chosen so one run fits its time box on 4 cores. The run
# lengths (panel, passes, pages, tail rates) are constants of the workload
# objects in perfbench/src.
WORKLOADS = {
    "registry_sf0001": dict(scale=0.001),
    "candle_backfill": dict(trades=1_500_000, symbols=12, days=1, pages=12, page_minutes=10,
                            overlap_minutes=3),
}


def metric_table():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """$SPARK_HOME/jars, else the jars shipped inside the installed pyspark."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            import pyspark
        except ImportError:
            fail("set SPARK_HOME to a Spark 4 installation")
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars under {jars}")
    return jars


def build(root):
    """Compile graft's main sources and the benchmark into one class dir;
    skipped when the sources hash matches the last build."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from a graft checkout")
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-d", tmp, "-classpath", cp, "-nowarn", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def generate(name, seed, inputs):
    """Write the workload's inputs; returns the generator's manifest."""
    p = WORKLOADS[name]
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(inputs)
    if name == "registry_sf0001":
        gen.registry_tables(inputs, seed, p["scale"])
        return {"scale": p["scale"]}
    return gen.trades(inputs, seed, p["trades"], p["symbols"], p["days"], p["pages"],
                      p["page_minutes"], p["overlap_minutes"])


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def pct(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(q * (len(s) - 1))))] if s else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    e2e, per_layer = metric_table()
    classes = build(root)
    t_start = time.time()

    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    try:
        gen_s = []
        for _ in range(GEN_REPS):
            t0 = time.perf_counter()
            manifest = generate(a.workload, a.seed, inputs)
            gen_s.append(time.perf_counter() - t0)

        opens = [x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                             "java.net", "java.nio", "java.util", "java.util.concurrent",
                             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                             "sun.security.action", "sun.util.calendar")
                 for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cpus = len(os.sched_getaffinity(0))  # nproc
        result_file = os.path.join(work, "result.json")
        # a fixed heap and young generation under the parallel collector
        # make the resident-set high-water mark repeatable across runs; every
        # scratch path points into the work dir, and no perf-data file is kept
        cmd = (["java", *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn512m",
                "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.local.dir={work}/spark", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.sql.warehouse.dir={work}/warehouse",
                f"-Dderby.stream.error.file={work}/derby.log",
                "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "graft.perfbench.Main",
                "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
                "--trace", a.trace, "--inputs", inputs, "--work", work, "--out", result_file,
                "--cpus", cpus] + (["--archive_trades", manifest["archive_trades"]]
                                   if "archive_trades" in manifest else []))
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run([str(x) for x in cmd], stdout=log, stderr=subprocess.STDOUT,
                                      cwd=work, timeout=max(10, DEADLINE_S - (time.time() - t_start)))
                code = proc.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log_path).read()[-6000:])
            fail(f"workload JVM exited with {code}")
        with open(result_file) as f:
            res = json.load(f)

        t0 = time.perf_counter()
        if a.workload == "registry_sf0001":
            wrong = check.registry(res, inputs)
        else:
            wrong = check.candles(res, inputs, manifest) + check.tail(res)
        check_s = time.perf_counter() - t0

        lat = res["latencies_s"]
        values = {
            "setup_s": statistics.median(gen_s) + statistics.median(res["setup_reps_s"]) + res["jvm_boot_s"],
            "op_p50_s": pct(lat, 0.5),
            "items_per_s": res["items"] / res["items_wall_s"] if res["items_wall_s"] > 0 else 0.0,
            "cpu_s_per_op": res["op_cpu_s"] / len(lat) if lat else 0.0,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        attempted = res["attempted"]
        failed = res["failed"] + len(wrong)
        metrics = {}
        if a.trace:
            for m in per_layer:
                metrics[m["name"]] = {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
        else:
            for m in e2e:
                metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        correct = failed == 0

        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": cpus, "driver_heap": JVM_HEAP, "git_commit": git_commit(root),
            "sizes": WORKLOADS[a.workload], "sql_conf": res["sql_conf"],
            "spark_version": res["spark_version"], "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "correct": correct, "attempted": attempted, "failed": failed,
            "failures": res["failures"] + wrong,
            "samples": len(lat), "op_p90_s": pct(lat, 0.9), "ops": list(zip(res["op_names"], lat))[:200], "setup": {"generate_s": gen_s, "jvm_setup_s": res["setup_reps_s"],
                                           "session_s": res["session_reps_s"], "jvm_boot_s": res["jvm_boot_s"]},
            "timed_wall_s": res["wall_s"], "timed_cpu_s": res["cpu_s"], "check_s": check_s,
            "run_s": time.time() - t_start,
            "end_to_end": [dict(m, value=values[m["name"]]) for m in e2e],
            "figures": res["figures"],
            "per_layer": [dict(m, value=res["layers"].get(m["name"], 0.0)) for m in per_layer] if a.trace else [],
            "layers_all": res["layers"],
        }
        runs = os.path.join(root, ".bench_runs", a.workload)
        os.makedirs(runs, exist_ok=True)
        stem = os.path.join(runs, f"seed{a.seed}-trace{a.trace}-{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump(artifact, f, indent=1)
        spans = os.path.join(work, "result.spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, stem + ".spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
