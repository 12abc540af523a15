#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 graftbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
driver with sbt (graftbench/build.sbt); later runs reuse the build until a
source file changes. Each run puts its inputs (the corpus generated from
--seed, or a copy of the query fixture; --seed orders the query lines) in a
fresh temp root inside the checkout, starts one driver JVM on local[nproc],
runs set-up (whose warmup pass keeps its outputs) and the timed window,
compares the outputs with independently computed answers, removes the temp
root and prints, as its last stdout line, one JSON object: correct,
attempted, failed and metrics (the end-to-end metrics with --trace 0, the
per-layer ones with --trace 1).

--record FILE keeps the full run record; --baseline FILE (with --trace 1)
names an untraced run's record and prints the tracing overhead.
See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import mixes  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "graftbench/build.sbt", "graftbench/project/build.properties",
                "graftbench/src"]
MANIFEST = os.path.join(HERE, "target", "manifest.txt")
STAMP = os.path.join(HERE, "target", "manifest.sources")
# graft's sf0.01 test fixture, as the query lines read it; each run
# reads a copy inside its temp root
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
TIME_LIMIT_S = 165
HEAP = "3g"


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """SHA-256 over every build input (path and bytes)."""
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile graft and the driver unless the last build saw these sources.
    Returns (jvm options, classpath)."""
    fresh = (os.path.exists(MANIFEST) and os.path.exists(STAMP)
             and open(STAMP).read() == digest)
    if not fresh:
        log("building graft and the benchmark driver with sbt")
        t0 = time.time()
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "manifest"],
                           cwd=HERE, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("sbt build failed")
        with open(STAMP, "w") as fh:
            fh.write(digest)
        log(f"build took {time.time() - t0:.1f} s")
    lines = open(MANIFEST).read().splitlines()
    opts = [o for o in lines[:-1] if not o.startswith("-Xmx")]
    return opts, lines[-1]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or None
    except OSError:
        return None


def run_driver(args, opts, cp, tmp, data, lines, deadline):
    record = os.path.join(tmp, "record.json")
    cores = str(len(os.sched_getaffinity(0)))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}/jtmp",
            f"-Dgraft.artifact.dir={tmp}/artifacts"] + opts +
           ["-cp", cp, "graftbench.Driver", f"workload={args.workload}",
            f"data={data}", f"root={tmp}", f"seconds={args.seconds}",
            f"trace={args.trace}", f"cores={cores}", f"out={record}",
            f"lines={','.join(lines)}"])
    env = dict(os.environ, SPARK_GRAFT_ARTIFACT_DIR=f"{tmp}/artifacts",
               SPARK_GRAFT_CPUS=cores)
    os.makedirs(f"{tmp}/jtmp")
    jvm_log = os.path.join(tmp, "driver.log")
    t_launch = time.time()
    with open(jvm_log, "w") as out:
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(record):
        sys.stderr.write(open(jvm_log, errors="replace").read()[-4000:])
        raise SystemExit(f"driver failed ({code})")
    with open(record) as fh:
        rec = json.load(fh)
    rec["setup_s"] = rec["setup_done_ms"] / 1000.0 - t_launch
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(mixes.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the full run record here")
    ap.add_argument("--baseline", help="an untraced run's record, for overhead")
    args = ap.parse_args()
    deadline = time.time() + TIME_LIMIT_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("graftbench must run from a graft checkout: "
                         "no build.sbt or src/main/scala/graft beside it")
    digest = source_digest()
    opts, cp = build(digest)
    deadline = max(deadline, time.time() + TIME_LIMIT_S)

    tmp = os.path.join(ROOT, ".graftbench-tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        stamp = {"workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace,
                 "nproc": len(os.sched_getaffinity(0)), "git_commit": git_commit(),
                 "source_digest": digest[:16],
                 "loadavg_1m_start": os.getloadavg()[0]}
        data = os.path.join(tmp, "data")
        if args.workload == "mr_wordcount":
            files = gen.corpus(args.seed, data, **mixes.CORPUS)
            lines = []
        else:
            shutil.copytree(FIXTURE, data)
            files = [os.path.join(data, f) for f in sorted(os.listdir(data))]
            lines = gen.permutation(args.seed, mixes.WORKLOADS[args.workload])
        stamp["input_digest"] = gen.digest(files)[:16]
        stamp["input_mb"] = sum(os.path.getsize(f) for f in files) / 1e6

        rec = run_driver(args, opts, cp, tmp, data, lines, deadline)
        stamp.update(jdk=rec["jdk"], spark=rec["spark"], canary_s=rec["canary_s"],
                     loadavg_1m_end=os.getloadavg()[0])

        if args.workload == "mr_wordcount":
            verdict = checks.check_mr(rec, files)
        else:
            verdict = checks.check_lines(rec, data, tmp)
        e2e = layers.end_to_end(rec, stamp, verdict)
        rec.update(stamp=stamp, verdict=verdict, end_to_end=e2e)
        print("stamp " + json.dumps(stamp, sort_keys=True))
        layers.print_end_to_end(e2e)
        for name, why in verdict["failures"].items():
            print(f"FAILED {name}: {why}")
        metrics = e2e["gated"]
        if args.trace:
            per_layer = layers.per_layer(rec)
            rec["per_layer"] = per_layer
            layers.print_per_layer(per_layer, layers.self_times(rec))
            if args.baseline:
                with open(args.baseline) as fh:
                    layers.print_overhead(json.load(fh)["end_to_end"], e2e)
            metrics = per_layer
        if args.record:
            rec.pop("extra", None)
            with open(args.record, "w") as fh:
                json.dump(rec, fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    units = layers.UNITS
    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
