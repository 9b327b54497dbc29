#!/usr/bin/env python3
"""Layered benchmark of the graft engine: build, run one workload, report.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dwh_refresh --seed 1 --seconds 5 --trace 0

Workloads: dwh_refresh, triad_ingest, corpus_probe (see perfbench/README.md).
The first run in a checkout compiles the engine and the benchmark with the
Scala compiler that ships with Spark into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the classes while the sources are unchanged.

Inputs are derived by the benchmark from the read-only testdata tables
(`--data`, default `$PERFBENCH_DATA`, else ~/testdata, else the nearest
testdata/ beside an ancestor of the checkout; each workload picks its scale
factor directory) and the seed.
Every run prints each metric by name with its unit and sample count, then the
full self-describing record as one JSON line, then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end_to_end metrics, with
`--trace 1` its per_layer metrics. The exit code is 1 when the run is not
correct: a failed op, an output mismatch or a metric not measured. Records
are also kept under `<build>/records/` for perfbench/compare.py.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dwh_refresh", "triad_ingest", "corpus_probe")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a checkout")
    if not bench:
        fail(f"no benchmark sources under {HERE}/src")
    return main + bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def build(build_dir, srcs, src_digest):
    """Compile engine + benchmark once per source digest."""
    out = os.path.join(build_dir, "classes-" + src_digest)
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    jars = spark_jars()
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, name + "-2.13*.jar")))
        if not found:
            fail(f"no {name} jar in {jars}")
        compiler.append(found[-1])
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    open(os.path.join(out, "BUILD_OK"), "w").close()
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.decode().strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def load_benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"no BENCHMARK.json at {ROOT}")
    with open(path) as f:
        return json.load(f)


def check_seed_digests(build_dir, src_digest, record):
    """Output digests must be equal for every run of a seed on the same
    sources: the first such run in this build directory records them,
    later runs compare."""
    digests = record.get("digests") or {}
    if not digests:
        return []
    path = os.path.join(build_dir, "expect", src_digest,
                        f"{record['workload']}-seed{record['seed']}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(digests, f, sort_keys=True)
        return []
    with open(path) as f:
        expected = json.load(f)
    return [f"{k}: {digests.get(k)} != {v} (earlier run of this seed)"
            for k, v in sorted(expected.items()) if digests.get(k) != v]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--data", default=os.environ.get("PERFBENCH_DATA"),
                    help="testdata directory (default: ~/testdata, else the "
                         "nearest testdata/ beside an ancestor of the checkout)")
    args = ap.parse_args()
    if args.data is None:
        up = [os.path.join(os.path.expanduser("~"), "testdata")]
        d = ROOT
        while os.path.dirname(d) != d:
            d = os.path.dirname(d)
            up.append(os.path.join(d, "testdata"))
        args.data = next((p for p in up if os.path.isdir(p)), up[0])
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    bench = load_benchmark()
    srcs = sources()
    if not os.path.isdir(args.data):
        fail(f"no testdata directory {args.data} (set --data or PERFBENCH_DATA)")
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    src_digest = digest(srcs)
    classes = build(build_dir, srcs, src_digest)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    records = os.path.join(build_dir, "records", args.workload)
    os.makedirs(records, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(records, f"seed{args.seed}-t{args.trace}-{stamp}.json")
    log = os.path.join(build_dir, "logs", f"{args.workload}-seed{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + ":" + os.path.join(spark_jars(), "*"),
            "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--data", os.path.abspath(args.data), "--work", work, "--out", out]
    code = None
    with open(log, "wb") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed with exit code {code} (log: {log})")

    with open(out) as f:
        record = json.load(f)
    mismatches = check_seed_digests(build_dir, src_digest, record)
    record.update({
        "git_commit": git_commit(), "source_digest": src_digest,
        "nproc": cores, "data": os.path.abspath(args.data),
        "seed_digest_mismatches": mismatches,
    })
    # each digest comes from an op of this run: a mismatch fails that op
    record["failed"] += len(mismatches)
    with open(out, "w") as f:
        json.dump(record, f, sort_keys=True)

    failed = record["failed"]
    for name, m in record["metrics"].items():
        value = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{record['workload']} {name} = {value} {m['unit']} (n={m['n']})")
    for name, v in sorted(record.get("layers", {}).items()):
        print(f"{record['workload']} layer {name} = {v:.6g}")
    for msg in record.get("failures", []) + mismatches:
        print(f"{record['workload']} FAILED {msg}")
    print(json.dumps({"perfbench_record": record}, sort_keys=True))

    if args.trace:
        wanted = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        source = {k: (v, None) for k, v in record.get("layers", {}).items()}
    else:
        wanted = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        source = {k: (v["value"], v["unit"]) for k, v in record["metrics"].items()}
    metrics = {}
    correct = failed == 0
    for name, unit in wanted:
        value, got_unit = source.get(name, (None, None))
        if value is None or (got_unit is not None and got_unit != unit):
            print(f"perfbench: metric {name} not measured ({unit})", file=sys.stderr)
            correct = False
            continue
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": failed, "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
