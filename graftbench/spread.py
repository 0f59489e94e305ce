#!/usr/bin/env python3
"""Steadiness and tracing-overhead reports for the graft benchmark.

    python3 graftbench/spread.py spread --seeds 1-10 [--workloads a,b] [--out f.json]
    python3 graftbench/spread.py trace --seed 1 [--out f.json]
    python3 graftbench/spread.py heldout --seed 1 --heldout 1001 --repeat 3 [--out f.json]

`spread` runs every workload once per seed and reports, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median as
statistics.quantiles(values, n=4) gives the quartiles, next to the metric's
bound. `trace` runs each workload untraced and then traced on the same seed
and reports every per-layer metric plus the traced run's end-to-end values
against the untraced ones: the tracing overhead. `heldout` runs the default
seed and a held-out seed `--repeat` times each, interleaved, and reports each
end-to-end metric's median on both with their ratio next to the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, trace, seconds=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    if seconds:
        cmd += ["--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    res = json.loads(line)
    with open(os.path.join(HERE, "work", workload, "result.json")) as f:
        full = json.load(f)
    return p.returncode, res, full


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def spread(args, bench):
    report = {}
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            rc, res, full = one(w, s, 0, args.seconds)
            runs.append({"seed": s, "exit": rc, "correct": res.get("correct"),
                         "attempted": res.get("attempted"), "failed": res.get("failed"),
                         "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()},
                         "gen_s": full["info"].get("gen_s")})
            print(f"{w} seed={s} exit={rc} " + " ".join(
                f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()), file=sys.stderr, flush=True)
        summary = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs if m["name"] in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m["name"]] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                                  "spread": (q3 - q1) / statistics.median(vals),
                                  "bound": m["bound"], "unit": m["unit"]}
        report[w] = {"runs": runs, "summary": summary}
        for k, v in summary.items():
            flag = "" if v["spread"] < v["bound"] / 3 else "  <-- above bound/3"
            print(f"{w} {k}: median {v['median']:.4g} {v['unit']} spread {v['spread']:.3f} "
                  f"(bound {v['bound']}){flag}", file=sys.stderr, flush=True)
    return report


def trace(args, bench):
    report = {}
    for w in args.workloads:
        _, plain, plain_full = one(w, args.seed, 0, args.seconds)
        rc, traced, traced_full = one(w, args.seed, 1, args.seconds)
        overhead = {}
        for k, v in plain_full["e2e"].items():
            t = traced_full["e2e"].get(k)
            if t is not None and v:
                overhead[k] = {"untraced": v, "traced": t, "ratio": t / v}
        report[w] = {"seed": args.seed, "exit": rc, "correct": traced.get("correct"),
                     "per_layer": {k: v["value"] for k, v in traced.get("metrics", {}).items()},
                     "tracing_overhead": overhead, "info": traced_full["info"]}
        with open(os.path.join(HERE, "work", w, "trace.json")) as f:
            spans = json.load(f)["spans"]
        report[w]["span_count"] = len(spans)
        by = {}
        for s in spans:
            if s["parent"] < 0:
                b = by.setdefault(s["name"], {"ops": 0, "wall_s": 0.0, "driver_gap_s": 0.0,
                                              "jobs": 0, "tasks": 0})
                b["ops"] += 1
                b["wall_s"] += s["wall_s"]
                b["driver_gap_s"] += s.get("driver_gap_s", 0.0)
                b["jobs"] += s.get("jobs", 0)
                b["tasks"] += s.get("tasks", 0)
        report[w]["ops_by_name"] = by
        print(f"{w}: {json.dumps(report[w]['per_layer'])}", file=sys.stderr, flush=True)
    return report


def heldout(args, bench):
    report = {}
    for w in args.workloads:
        vals = {args.seed: [], args.heldout: []}
        for _ in range(args.repeat):
            for s in (args.seed, args.heldout):
                rc, res, _ = one(w, s, 0, args.seconds)
                vals[s].append({k: v["value"] for k, v in res.get("metrics", {}).items()})
                print(f"{w} seed={s} exit={rc} correct={res.get('correct')}", file=sys.stderr,
                      flush=True)
        rows = {}
        for m in bench["end_to_end"]:
            a = statistics.median(r[m["name"]] for r in vals[args.seed])
            b = statistics.median(r[m["name"]] for r in vals[args.heldout])
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            rows[m["name"]] = {"default_median": a, "heldout_median": b, "ratio": b / a,
                               "heldout_worse_by": worse, "bound": m["bound"],
                               "within_bound": abs(b - a) / a <= m["bound"]}
            print(f"{w} {m['name']}: seed {args.seed} {a:.4g}, seed {args.heldout} {b:.4g} "
                  f"(ratio {b / a:.3f}, bound {m['bound']})", file=sys.stderr, flush=True)
        report[w] = {"default_seed": args.seed, "heldout_seed": args.heldout,
                     "repeat": args.repeat, "metrics": rows, "runs": {str(k): v for k, v in vals.items()}}
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "trace", "heldout"])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--heldout", type=int, default=1001)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--workloads", default="cdc_history,cdc_tail,corpus_ops")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    args.workloads = args.workloads.split(",")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    report = {"spread": spread, "trace": trace, "heldout": heldout}[args.mode](args, bench)
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
