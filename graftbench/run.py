#!/usr/bin/env python3
"""graft benchmark: binlog history scans, live binlog tail and corpus index serving.

Run from the repository root:

    python3 graftbench/run.py --workload cdc_history --seed 1 --seconds 15 --trace 0
    python3 graftbench/run.py --workload all --seed 1      # every workload, every metric

Builds graft and the harness from source (graftbench/build.sh), generates the
seeded inputs in their own JVM (cached by workload, seed and generator source),
runs one measuring JVM on local[nproc], checks every output against the
generator's truth, and prints one JSON line last: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Exits
non-zero when an output check failed or the run could not complete.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cdc_history", "cdc_tail", "corpus_ops"]
# each run must end within this many seconds of its start
DEADLINE_S = 170
# input sets kept per workload in the cache
CACHE_KEEP = 12
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """SPARK_JARS, else the jar directory graft's own sbt build compiles against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("no SPARK_JARS and no unmanagedBase in build.sbt")
    return m.group(1)


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bounded(cmd, deadline, **kw):
    """Run cmd in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"timed out: {' '.join(cmd[:3])} ...")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build(deadline):
    rc, out = run_bounded(["bash", os.path.join(HERE, "build.sh")], deadline,
                          stdout=subprocess.PIPE, text=True,
                          env=dict(os.environ, SPARK_JARS=spark_jars()))
    if rc != 0:
        raise RuntimeError(f"build failed (exit {rc})")
    return out.strip().splitlines()[-1]


def java(classes, heap, main, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: the peak resident size then
    # follows what the run keeps live, not G1's run-to-run resizing
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn768m", "-Xss8m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_jars()}/*", main] + args
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    return run_bounded(cmd, deadline, stdout=sys.stderr, cwd=work, env=env)


def gen_key(workload, seed):
    h = hashlib.sha1()
    for name in ("Gen.scala", "LogGen.scala"):
        with open(os.path.join(HERE, "src", "graftbench", name), "rb") as f:
            h.update(f.read())
    return f"{workload}-s{seed}-{h.hexdigest()[:12]}"


def inputs(classes, workload, seed, deadline):
    """Seeded inputs, generated once per (workload, seed, generator source).
    Returns (directory, generation seconds)."""
    cache = os.path.join(HERE, "cache")
    key = gen_key(workload, seed)
    d = os.path.join(cache, key)
    done = os.path.join(d, "GEN_OK")
    if os.path.exists(done):
        os.utime(d)
        with open(done) as f:
            return d, float(f.read().strip())
    os.makedirs(cache, exist_ok=True)
    # bounded cache: drop the least recently used input sets of this workload
    mine = sorted((e for e in os.listdir(cache) if e.startswith(workload + "-")),
                  key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for e in mine[:max(0, len(mine) - CACHE_KEEP + 1)]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.time()
    rc, _ = java(classes, "2g", "graftbench.Gen", [workload, str(seed), d], d, deadline)
    if rc != 0:
        shutil.rmtree(d, ignore_errors=True)
        raise RuntimeError(f"input generation failed (exit {rc})")
    gen_s = time.time() - t0
    with open(done, "w") as f:
        f.write(f"{gen_s:.3f}\n")
    return d, gen_s


def run_workload(classes, workload, seed, seconds, trace, deadline):
    inp, gen_s = inputs(classes, workload, seed, deadline)
    work = os.path.join(HERE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rc, _ = java(classes, "3g", "graftbench.Main",
                 ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", "1" if trace else "0", "--inputs", inp, "--work", work],
                 work, deadline)
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        raise RuntimeError(f"{workload}: measuring JVM failed (exit {rc})")
    with open(res_path) as f:
        res = json.load(f)
    res["info"]["gen_s"] = f"{gen_s:.3f}"
    return res


def result_line(res, trace, s):
    wanted = s["per_layer"] if trace else s["end_to_end"]
    source = res["layers"] if trace else res["e2e"]
    unknown = set(source) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        # a layer the workload does not run reads 0; every end-to-end metric is measured
        v = source.get(m["name"], 0.0 if trace else None)
        if v is None:
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def report(res, s):
    """Every metric by name with its unit, on stderr."""
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    w = res["workload"]
    fail_ratio = res["failed"] / max(1, res["attempted"])
    log(f"{w} seed={res['seed']} attempted={res['attempted']} failed={res['failed']} "
        f"fail_ratio={fail_ratio:.4f} gen_s={res['info'].get('gen_s')}")
    shown = list(res["e2e"].items())
    if res["trace"]:
        shown += [(m["name"], res["layers"].get(m["name"], 0.0)) for m in s["per_layer"]]
    for k, v in shown:
        log(f"  {w} {k} = {v:.6g} {units.get(k, '')}")
    for k, v in res["info"].items():
        log(f"  {w} info.{k} = {v}")
    for f in res["failures"]:
        log(f"  {w} FAILED CHECK: {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}/src/main/scala: nothing to benchmark")
        return 2
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    names = WORKLOADS if a.workload == "all" else [a.workload]
    try:
        # the build may take long once per checkout; each run keeps its own bound
        classes = os.path.join(build(t0 + 900), "classes")
        results = []
        for w in names:
            r0 = time.time()
            res = run_workload(classes, w, a.seed, seconds, a.trace == 1, r0 + DEADLINE_S)
            report(res, s)
            results.append(res)
    except RuntimeError as e:
        log(str(e))
        return 3
    lines = [result_line(r, a.trace == 1, s) for r in results]
    if a.workload == "all":
        print(json.dumps({r["workload"]: l for r, l in zip(results, lines)}))
        out = {"correct": all(l["correct"] for l in lines),
               "attempted": sum(l["attempted"] for l in lines),
               "failed": sum(l["failed"] for l in lines), "metrics": {}}
    else:
        out = lines[0]
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
