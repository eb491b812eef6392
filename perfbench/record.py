#!/usr/bin/env python3
"""Record a reference baseline of the benchmark into a JSON file.

    python3 perfbench/record.py --out perfbench/baseline/trace_summary.json
    python3 perfbench/record.py --cpus 1 --no-trace --seeds 1 \
        --out perfbench/baseline/local1.json
    python3 perfbench/record.py --sets 201-210,211-220 \
        --out perfbench/baseline/steadiness.json

Every run measures BENCHMARK.json's `run_seconds`.

Without --sets, per workload: untraced runs on each seed (end-to-end
metrics), then, unless --no-trace, one traced run on the first seed. For
the traced run it stores the per-layer metrics, a summary of its span dump
(per span name and tag: count, median, total and self time, summed counts)
and the tracing overhead: the traced run's own end-to-end figures minus
those of the untraced run on the same seed.

With --sets, it records steadiness instead: for each set of seeds in turn,
each workload runs untraced on every seed of the set, one run after
another. Per set and workload it stores each end-to-end metric's values,
median and spread, (Q3 - Q1) / median with the quartiles of
`statistics.quantiles(values, n=4)`; per later set, how much worse each
median is than the first set's, as a share of it. Both are what the
metric's bound in BENCHMARK.json limits.

Recorded once for later changes to diff against; nothing gates on it.
"""
import argparse
import collections
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

BENCH = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
SECONDS = BENCH["run_seconds"]


def run(workload, seed, trace, cpus):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS),
           "--trace", str(trace), "--cpus", str(cpus)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, stdout=subprocess.PIPE, check=True,
                         text=True).stdout.strip().splitlines()
    res = json.loads(out[-1])
    res["wall_s"] = time.monotonic() - t0
    for line in out[:-1]:
        if line.startswith("# samples: "):
            res["samples"] = dict(kv.split("=", 1) for kv in line[11:].split())
        if line.startswith("# traced_e2e: "):
            res["traced_e2e"] = json.loads(line[len("# traced_e2e: "):])
    return res


def union_seconds(spans):
    """Seconds covered by the union of the spans' intervals."""
    total, end = 0, None
    for s in sorted(spans, key=lambda s: s["start_ns"]):
        start = s["start_ns"] if end is None else max(s["start_ns"], end)
        if s["end_ns"] > start:
            total += s["end_ns"] - start
        end = s["end_ns"] if end is None else max(end, s["end_ns"])
    return total / 1e9


def span_summary(path):
    """Per span name (and tag, e.g. the sink table): count, median and total
    duration, self time (duration minus the part its child spans cover) and
    the summed counts the spans carry; warm-up spans excluded."""
    spans = [json.loads(line) for line in open(path) if line.strip()]
    spans = [s for s in spans if s["op"] >= 0]
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    by_name = collections.defaultdict(lambda: {"d": [], "self": 0.0})
    for s in spans:
        name = s["name"] + (f"[{s['tag']}]" if s["tag"] else "")
        d = (s["end_ns"] - s["start_ns"]) / 1e9
        covered = union_seconds(children.get(s["id"], []))
        by_name[name]["d"].append(d)
        by_name[name]["self"] += max(0.0, d - covered)
        for k, v in s["attrs"].items():
            by_name[name][k] = by_name[name].get(k, 0.0) + v
    out = {}
    for n, v in sorted(by_name.items()):
        d = v.pop("d")
        out[n] = {"n": len(d), "p50_s": statistics.median(d), "sum_s": sum(d),
                  "self_sum_s": v.pop("self"), **v}
    return out


def worse(metric, base, value):
    """How much worse `value` is than `base`, as a share of `base`."""
    if metric["better"] == "lower":
        return value / base - 1
    return base / value - 1


def steadiness(sets, cpus):
    doc = {"spread": "(Q3 - Q1) / median, quartiles from "
                     "statistics.quantiles(values, n=4)",
           "worse_than_first_set": "share by which a set's median is worse "
                                   "than the first set's",
           "sets": {}}
    for i, seeds in enumerate(sets):
        name = "ABCDEFGH"[i]
        doc["sets"][name] = {}
        for w in WORKLOADS:
            runs = [run(w, s, 0, cpus) for s in seeds]
            entry = {"seeds": seeds,
                     "wall_s": [round(r["wall_s"], 1) for r in runs],
                     "attempted": sum(r["attempted"] for r in runs),
                     "failed": sum(r["failed"] for r in runs),
                     "metrics": {}}
            for m in BENCH["end_to_end"]:
                v = [r["metrics"][m["name"]]["value"] for r in runs]
                q = statistics.quantiles(v, n=4)
                med = statistics.median(v)
                e = {"bound": m["bound"], "median": med,
                     "spread": (q[2] - q[0]) / med, "values": v}
                if i > 0:
                    first = doc["sets"]["A"][w]["metrics"][m["name"]]["median"]
                    e["worse_than_first_set"] = worse(m, first, med)
                entry["metrics"][m["name"]] = e
                print(f"set {name} {w} {m['name']}: median {med:.4g} spread "
                      f"{e['spread']:.3f} (bound {m['bound']})", file=sys.stderr)
            doc["sets"][name][w] = entry
    return doc


def parse_seeds(text):
    """`1,2,3` or `201-210` (inclusive) → a list of seeds."""
    lo, _, hi = text.partition("-")
    if hi:
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--sets", help="record steadiness over these seed sets, "
                    "e.g. 201-210,211-220")
    a = ap.parse_args()
    build.build()  # compile before any timed run
    host = {"machine": platform.machine(), "nproc": os.cpu_count(),
            "mem_gib": round(os.sysconf("SC_PAGE_SIZE")
                             * os.sysconf("SC_PHYS_PAGES") / 2**30)}
    if a.sets:
        doc = steadiness([parse_seeds(s) for s in a.sets.split(",")], a.cpus)
        doc.update(cpus=a.cpus, seconds=SECONDS, host=host)
        write(a.out, doc)
        return
    seeds = parse_seeds(a.seeds)
    doc = {"cpus": a.cpus, "seconds": SECONDS, "seeds": seeds, "host": host,
           "workloads": {}}
    for w in WORKLOADS:
        untraced = [run(w, s, 0, a.cpus) for s in seeds]
        names = untraced[0]["metrics"].keys()
        entry = {
            "untraced_runs": untraced,
            "untraced_median": {n: statistics.median(
                r["metrics"][n]["value"] for r in untraced) for n in names},
        }
        if not a.no_trace:
            traced = run(w, seeds[0], 1, a.cpus)
            base = untraced[0]["metrics"]
            te2e = traced["traced_e2e"]
            entry["traced"] = {
                "seed": seeds[0],
                "correct": traced["correct"],
                "per_layer": {n: v["value"] for n, v in traced["metrics"].items()},
                "e2e": {n: v["value"] for n, v in te2e.items()},
                "overhead": {n: {"traced_minus_untraced": te2e[n]["value"] - base[n]["value"],
                                 "share": te2e[n]["value"] / base[n]["value"] - 1}
                             for n in names},
                "spans": span_summary(os.path.join(
                    build.OUT, "spans", f"{w}-{seeds[0]}.jsonl")),
            }
        doc["workloads"][w] = entry
        print(f"recorded {w}", file=sys.stderr)
    write(a.out, doc)


def write(path, doc):
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
