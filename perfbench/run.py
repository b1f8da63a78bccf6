#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload forward-retry --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source on first use (sbt, offline),
prepares the curation replica with tools/gen_scale_data.py, runs the
workload in one JVM, and prints the result as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end set; with
--trace 1 its per_layer set, and the run's spans are written to
.bench_build/traces/. Everything the run writes stays under .bench_build/.
Exits non-zero when an output check fails or the program cannot be built.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# sources whose change forces a rebuild
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath and the
    JVM options graft's build runs Spark with (its JDK 17 module opens)."""
    for need in ("build.sbt", "src/main/scala/graft", "tools/gen_scale_data.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "java_options.txt")
    stamp = source_stamp()
    if all(os.path.exists(f) for f in (cp_file, opts_file, stamp_file)):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g, open(opts_file) as h:
                    return g.read().strip(), h.read().splitlines()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "logs", "build.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath", "print javaOptions"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                timeout=BUILD_TIMEOUT_S, text=True)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}", 3)
        log.write(proc.stdout)
    out = [l.strip() for l in proc.stdout.splitlines()]
    lines = [l for l in out if l and not l.startswith("[") and ".jar" in l]
    # `print` lists a sequence one "* item" a line
    java_opts = [l[2:] for l in out if l.startswith("* ")]
    if proc.returncode != 0 or not lines or not java_opts:
        die(f"build failed (see {log_path})", 3)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(opts_file, "w") as f:
        f.write("\n".join(java_opts))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, java_opts


def replica(scale):
    """The curation input: an N-fold distinct replica of the fixed corpus,
    generated once per checkout."""
    n = int(scale.lstrip("x"))
    dst = os.path.join(BUILD, "data", scale)
    tables = ("documents", "embeddings")
    if all(os.path.exists(os.path.join(dst, f"{t}.parquet")) for t in tables):
        return
    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join(ROOT, "tools", "gen_scale_data.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in tables:
        gen.replicate(os.path.join(HERE, "data"), tmp, t, n)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)


def run_jvm(cp, java_opts, args, out_path, log_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(BUILD, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # graft's own JVM options, then a smaller heap cap (the last -Xmx wins)
    # with a 2 GiB floor: in a heap left to size itself, the full GC after
    # each query shrank it to ~300 MiB, and some runs then spent seconds of
    # CPU on back-to-back concurrent marking, others not; then a fixed set
    # of JIT compiler threads, so their CPU can be told apart
    cmd = [java] + java_opts + [
            "-Xms2g", "-Xmx4g", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", ROOT, "--out", out_path,
            "--launch-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s (see {log_path})", 4)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json not found next to perfbench/")
    with open(bench_json) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp, java_opts = build()
    if args.workload.startswith("curation-"):
        replica("x" + args.workload.split("-", 1)[1].rstrip("x"))

    shutil.rmtree(os.path.join(BUILD, "work"), ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_path = os.path.join(BUILD, "work", "result.json")
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    rc = run_jvm(cp, java_opts, args, out_path, log_path)
    if not os.path.exists(out_path):
        die(f"the run wrote no result (exit {rc}; see {log_path})", rc or 5)
    with open(out_path) as f:
        res = json.load(f)

    # the program reports bare values; units come from BENCHMARK.json
    measured = res["metrics"]
    metrics, off_path = {}, []
    for m in wanted:
        if m["name"] in measured:
            value = measured[m["name"]]
        else:
            # a layer this workload's data path never enters
            off_path.append(m["name"])
            value = 0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    extra = sorted(set(measured) - set(metrics))
    if extra:
        die(f"metrics missing from BENCHMARK.json: {', '.join(extra)}")
    detail = dict(res.get("detail", {}))
    if off_path:
        detail["not_on_this_workload"] = off_path
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": detail}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] and rc == 0 else 1)


if __name__ == "__main__":
    main()
