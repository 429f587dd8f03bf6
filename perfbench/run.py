#!/usr/bin/env python3
"""The repo benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):
  surface           one analyst session over a seeded corpus: set-up
                    builds the session stores, then a fixed sample of
                    the query keys runs once each in a seeded order
  city_bulk         seeded z21 cities through the clustering-to-
                    challenge-file job, one city per operation
  city_incremental  one seeded city clustered in set-up, then new
                    inference batches merged and clustered one by one

It builds the program and the harness from source (once per checkout),
generates the inputs from the seed, runs the workload in one JVM on
`local[<cores>]` with one client thread and a closed loop, checks every
output outside the timed spans, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
same run is traced (spans around every call into a module, counters
from Spark listeners) and the metrics are the per-layer ones, the
traced run's own end-to-end numbers among them (`traced.*`), so that
the tracing overhead shows against an untraced run. A run
record with the seed, source digest, cores, heap, load average and the
hypervisor's steal share goes to stderr and to <build dir>/runs/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import build  # noqa: E402

WORKLOADS = ("surface", "city_bulk", "city_incremental")
HEAP = "3g"
# whole-run limit for the JVM; the run must end well inside 180 s
JVM_LIMIT_S = 165


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(v) for v in f.read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(stolen, total) CPU ticks of the machine so far: the hypervisor's
    steal is one sign of the host's load, which moves whole runs."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(jars, dirs, args, work):
    cmd = (["java"] + build.jvm_opens() + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([os.path.join(jars, "*")] + dirs),
        "perfbench.Harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--input", f"{work}/input", "--out", f"{work}/out",
        "--cores", str(cores()), "--tmp", f"{work}/tmp"])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, cwd=work)
        try:
            rc = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def runs_dir(name):
    """Path of `name` in the directory that keeps every run's record."""
    d = os.path.join(build.build_dir(), "runs")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def end_to_end(workload, r):
    """The metrics every workload reports: set-up time (median of the
    run's set-ups) and throughput over the timed operations, in the
    workload's own unit of work: query keys on `surface`, input tiles on
    `city_bulk`, batch tiles on `city_incremental`. A city workload's
    first operation warms the JVM and is checked but not counted."""
    ops = [o for o in r["ops"] if not o["name"].startswith("store:")]
    if workload != "surface":
        ops = ops[1:]
    busy = sum(o["seconds"] for o in ops)
    done = sum(1 if workload == "surface" else o["size"] for o in ops if o["ok"])
    return {"setup_s": (statistics.median(r["setup_s"]), "s"),
            "items_per_s": (done / busy if busy else 0.0, "1/s")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "git_sha": git_sha(), "nproc": cores(),
              "heap": HEAP, "loadavg_start": loadavg()}
    ticks0 = cpu_ticks()
    t_start = time.time()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start)}"
    jars, dirs = build.build()
    record["source_digest"] = os.path.basename(os.path.dirname(dirs[0]))
    record["build_s"] = time.time() - t_start

    work = os.path.join(build.build_dir(), f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("input", "out", "tmp"):
        os.makedirs(os.path.join(work, d))
    try:
        t0 = time.time()
        state = None
        if args.workload == "city_bulk":
            import cities
            state = cities.bulk_inputs(args.seed, os.path.join(work, "input"))
        elif args.workload == "city_incremental":
            import cities
            state = cities.incremental_inputs(args.seed, os.path.join(work, "input"))
        record["generate_s"] = time.time() - t0

        t0 = time.time()
        r = run_jvm(jars, dirs, args, work)
        record["jvm_s"] = time.time() - t0

        t0 = time.time()
        # failures and wrong answers are keyed by operation id: a city
        # workload repeats operation names from pass to pass
        failures = [(o["id"], o["error"]) for o in r["ops"] if not o["ok"]]
        if args.workload == "surface":
            import oracle
            ids = {o["name"]: o["id"] for o in r["ops"]
                   if o["ok"] and not o["name"].startswith("store:")}
            wrong = [(ids[key], why) for key, why in
                     oracle.check(r["checks"]["answers"], r["checks"]["corpus"], list(ids),
                                  os.path.join(work, "tmp"))]
        elif args.workload == "city_bulk":
            wrong = cities.check_bulk(r, state)
        else:
            wrong = cities.check_incremental(r, state)
        record["check_s"] = time.time() - t0
        if args.trace:
            shutil.copy(os.path.join(work, "out", "spans.jsonl"), runs_dir(f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures += wrong
    ops = r["ops"]
    attempted = len(ops)
    failed = len({i for i, _ in failures})
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(args.workload, r).items()}
    if args.trace:
        metrics = {l["name"]: {"value": l["value"], "unit": l["unit"]} for l in r["layers"]}
        # the tracer counted the operations that threw; add the wrong ones
        for i in {i for i, _ in wrong}:
            metrics[f"{ops[i]['module']}.failed"]["value"] += 1
        metrics.update({f"traced.{k}": m for k, m in e2e.items()})
    else:
        metrics = e2e
    ticks1 = cpu_ticks()
    steal = ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
             if ticks0 and ticks1 else None)
    record.update({
        "loadavg_end": loadavg(), "steal_frac": steal, "max_heap_bytes": r["max_heap_bytes"],
        "spark_version": r["spark_version"], "setup_runs_s": r["setup_s"],
        "loop_wall_s": r["loop_wall_s"], "failed_frac": failed / attempted,
        "failures": [f"op {i} {ops[i]['name']}: {why}" for i, why in failures],
        "ops": [[o["name"], o["module"], round(o["seconds"], 4)] for o in ops],
        "end_to_end": e2e, "metrics": metrics, "wall_s": time.time() - t_start})
    with open(runs_dir(f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    sys.stderr.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
