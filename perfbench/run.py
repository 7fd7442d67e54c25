#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Builds graft plus the benchmark's JVM driver (once per source state),
generates the workload's tables from the seed, runs the workload in one
JVM and one Spark session (local[SPARK_GRAFT_CPUS], default: all cpus),
checks its outputs, writes one result record under perfbench/results/
and prints, as the last line, {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import report  # noqa: E402

# scale: input size as a share of the reference sf1 tables; passes: the
# fewest timed passes a run makes (it makes more while --seconds last)
WORKLOADS = {
    "catalog": {"scale": 0.01, "passes": 2},
    "admit_serve": {"scale": 0.01, "passes": 1},
}
HEAP = "3g"
# a run during which the host steals more than this share of the
# machine's cpu time is marked not comparable: steal slows the catalog's
# short, barrier-bound queries by more than the benchmark's bounds
STEAL_LIMIT = 0.03
JVM_DEADLINE_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the driver with sbt; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "graftbench-build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["source"] == digest:
            return cached["classpath"]
    log("building graft and the benchmark driver with sbt")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"source": digest, "classpath": classpath}, fh)
    return classpath


def cpu_times():
    """(steal, total) jiffies of all cpus; steal is time the host gave
    this machine's cpus to someone else."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_frac(start, end):
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else None


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_jvm(classpath, args, work, cpus):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS
           + ["-cp", classpath, "graftbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({code})")
    with open(log_path) as fh:
        for line in fh:
            if "[graftbench]" in line:
                sys.stderr.write(line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: graft sources not found next to perfbench/")
    classpath = build()

    cfg = WORKLOADS[a.workload]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        datagen.generate(data, a.seed, cfg["scale"])
        raw_path = os.path.join(work, "raw.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work, "--out", raw_path,
                "--passes", str(cfg["passes"])]
        if a.workload == "catalog":
            args += ["--queries", ",".join(report.CATALOG)]
        t0 = time.time()
        run_jvm(classpath, args, work, cpus)
        jvm_s = time.time() - t0
        with open(raw_path) as fh:
            raw = json.load(fh)
        attempted, failed, problems = report.check(a.workload, raw, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = report.end_to_end(raw)
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) as fh:
        objects = report.entry_objects(fh.read())
    layers = report.per_layer(raw, raw["checks"], objects) if a.trace else {}
    steal = steal_frac(cpu_start, cpu_times())
    chosen = layers if a.trace else e2e
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": cfg["scale"], "correct": failed == 0 and not problems,
        "attempted": attempted, "failed": failed, "failed_frac": failed / max(1, attempted),
        "problems": problems,
        "comparable": steal is not None and steal <= STEAL_LIMIT,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "by_kind": report.by_kind(raw),
        "samples": {"passes": len(raw["passes"]), "ops": len(raw["ops"]), "setup": 1,
                    "traced_passes": sum(1 for p in raw["passes"] if p["traced"])},
        "host": {"cpus": cpus, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                 "cpu_steal_frac": steal,
                 "java": raw["java_version"], "jvm": raw["java_vm"],
                 "spark": raw["spark_version"], "heap_max_bytes": raw["heap_max_bytes"],
                 "git_sha": git_sha(), "source_sha256": source_hash(),
                 "jvm_wall_s": jvm_s},
        "raw": {k: raw[k] for k in ("session_s", "setup_s", "measured_s", "passes",
                                    "ops", "probe") if k in raw},
    }
    if a.trace:
        record["per_layer_detail"] = report.layer_detail(raw, objects)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    rec_path = os.path.join(HERE, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                            f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for k, why in problems.items():
        log(f"check failed: {k}: {why}")
    if steal is not None:
        log(f"host cpu steal during the run: {steal:.1%}")
    if not record["comparable"]:
        log(f"steal over {STEAL_LIMIT:.0%} (or unknown): this run's timings are not "
            "comparable with low-steal runs; the record is marked comparable=false")
    log(f"result record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({"correct": record["correct"], "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
