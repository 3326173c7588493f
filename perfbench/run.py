#!/usr/bin/env python3
"""The graft benchmark: one closed-loop client running a workload of
registered graft queries, timed end to end, every result checked.

    python3 perfbench/run.py --workload mr-sql --seed 1 --seconds 28 --trace 0

Run it from the root of a graft checkout. The first run builds the JVM
harness (perfbench/harness) with sbt; later runs reuse the build while
the sources are unchanged. Inputs are the read-only test tables under
$GRAFT_TESTDATA (default ~/testdata, holding sf0.001/ and sf0.1/).

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics. The lines before it give the query
order, the error rate, the metrics printed without a bound and, for
traced runs, the GC counts. README.md describes every metric.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected_sf0.1.json")
RUN_TIMEOUT_S = 170


def jvm_opts():
    """The JVM flags of the repository's own launcher (build.sbt's forked
    run): its --add-opens list, read from build.sbt, and its heap."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    start = sbt.find("jdk17AddOpens = Seq(")
    pkgs = re.findall(r'"(java\.base/[^"]+)"', sbt[start:sbt.find(")", start)]) if start >= 0 else []
    if not pkgs:
        fail("build.sbt names no jdk17AddOpens packages")
    return [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
    ] + [arg for pkg in pkgs for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def fingerprint():
    """Hash of every source the harness build reads."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile graft and the harness; returns the runtime classpath."""
    stamp = os.path.join(HARNESS, "target", "perfbench.stamp")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            old_fp, cp = f.read().split("\n", 1)
        if old_fp == fp:
            return cp.strip()
    sbt_env = dict(env, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    sbt_env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"harness build failed (see {os.path.join(WORK, 'build.log')})", 1)
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp)
    return cp


def java(cp, args, tmp, **kw):
    cmd = ["java", *jvm_opts(), f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "graftbench.Harness", *args]
    return subprocess.Popen(cmd, stdin=subprocess.DEVNULL, text=True, **kw)


def wait_ready(proc):
    """Reads the harness's READY line; returns (epoch s, build s)."""
    for line in proc.stdout:
        if line.startswith("READY "):
            _, ms, build_s = line.split()
            return int(ms) / 1e3, float(build_s)
    return None


def stop(proc):
    if proc.poll() is None:
        proc.kill()
    proc.wait()


def check_results(results_dir, names, expected):
    """Compares each first-pass result with its expected hash; returns
    {name: error or None}."""
    import duckdb
    con = duckdb.connect()
    errors = {}
    for name in names:
        want = expected.get(name)
        files = sorted(
            os.path.join(results_dir, name, f)
            for f in os.listdir(os.path.join(results_dir, name))
            if f.endswith(".parquet")) if os.path.isdir(os.path.join(results_dir, name)) else []
        if not files:
            errors[name] = "no result written"
            continue
        got = benchlib.result_hash(
            con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_df())
        if want is None or "hash" not in want:
            errors[name] = "no expected hash"
        elif (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
            errors[name] = f"result mismatch: {got['rows']} rows, expected {want['rows']}"
        else:
            errors[name] = None
    con.close()
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(benchlib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"{ROOT} is not a graft checkout (no src/main/scala/graft)")
    data = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    small, full = os.path.join(data, "sf0.001"), os.path.join(data, "sf0.1")
    if not (os.path.isdir(small) and os.path.isdir(full)):
        fail(f"test tables not found under {data} (set GRAFT_TESTDATA)")
    with open(EXPECTED) as f:
        expected = json.load(f)
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)
    # The time limit counts from here: the first run also builds.
    deadline = time.time() + RUN_TIMEOUT_S

    names = benchlib.WORKLOADS[args.workload]
    cpus = str(len(os.sched_getaffinity(0)))
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env["SPARK_LOCAL_DIRS"] = tmp

    kinds = benchlib.pass_kinds(args.workload, args.seconds, args.trace)
    orders = [benchlib.permutation(names, args.seed, i) for i in range(len(kinds))]
    plan = os.path.join(run_dir, "plan.txt")
    with open(plan, "w") as f:
        f.write(f"cpus {cpus}\nsmall {small}\nfull {full}\nout {run_dir}\n"
                f"warmup {' '.join(benchlib.permutation(names, args.seed, 'warmup'))}\n")
        f.writelines(f"pass {'traced' if t else 'untraced'} {' '.join(o)}\n"
                     for t, o in zip(kinds, orders))
    t0 = time.time()
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        proc = java(cp, ["run", plan], tmp, stdout=subprocess.PIPE, stderr=log, env=env)
        # Kills a stalled harness at the deadline; its stdout then ends.
        watchdog = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
        watchdog.start()
        try:
            ready = wait_ready(proc)
            proc.stdout.read()
            proc.wait()
        finally:
            watchdog.cancel()
            stop(proc)
    if time.time() >= deadline:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    if ready is None:
        fail(f"harness never became ready (see {run_dir}/harness.log)", 1)
    setup_s = ready[0] - t0
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode} (see {run_dir}/harness.log)", 1)
    with open(os.path.join(run_dir, "samples.json")) as f:
        record = json.load(f)

    # A sample fails if its query threw; a first-pass sample also fails
    # if its result does not hash to the oracle's.
    checked = check_results(os.path.join(run_dir, "results"), names, expected)
    failures = []
    for s in record["samples"]:
        err = s["err"] or (checked.get(s["name"]) if s["phase"] == "timed" and s["pass"] == 0 else None)
        if err:
            failures.append((s["qid"], err))
    attempted = len(record["samples"])

    print(f"workload {args.workload} seed {args.seed}: {len(names)} queries, cores {cpus}")
    print("order pass 0: " + " ".join(orders[0]))
    for n, e in failures:
        print(f"FAILED {n}: {e}")
    print(f"error_rate {len(failures) / attempted:.6f} ratio ({len(failures)} of {attempted})")

    e2e, printed = benchlib.end_to_end(record, setup_s)
    tail = printed["query_tail"]
    print(f"query_tail_s {tail[1]:.6g} s: p{tail[0]} of {printed['samples']} samples, "
          f"{tail[2]} beyond it" if tail else
          f"query_tail_s: none, {printed['samples']} samples leave no percentile with 10 beyond")
    print(f"query_p50_s {printed['query_p50_s']:.6g} s over {printed['samples']} samples")
    print(f"heap_peak_mb {printed['heap_peak_mb']:.6g} MB (old generation after GC)")
    print(f"warmup_s {printed['warmup_s']:.6g} s (sf0.001 pass in the fresh session)")
    if args.trace == 0:
        metrics = {k: {"value": v, "unit": benchlib.unit(k)} for k, v in e2e.items()}
    else:
        layers = benchlib.per_layer(record, ready[1], int(cpus))
        metrics = {k: {"value": v, "unit": benchlib.unit(k)} for k, v in layers.items()}
        print("gc counts: " + json.dumps(benchlib.gc_counts(record), sort_keys=True))
        print(f"spans: {os.path.join(run_dir, 'spans.jsonl')}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "results"), ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    print(f"elapsed {time.time() - started:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
