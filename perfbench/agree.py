"""Proves the benchmark steady: runs each workload on several seeds, once or
twice over, and applies the run-set agreement check of metrics.py.

    python3 perfbench/agree.py --seeds 10 --sets 2 [--workloads olap,...]

For every end-to-end metric of every workload it prints the spread of each
set (quartile distance over median) and, with two sets, how much worse the
second median is than the first, against the metric's BENCHMARK.json bound.
Exits 1 when a metric fails the check. Raw values land in
perfbench/.out/agree.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

REPO = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, cwd=REPO)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    bench = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()

    raw = {}
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.seeds):
                seed = args.first_seed + s * args.seeds + i
                runs.append(one_run(w, seed, bench["run_seconds"]))
                print(f"{w} set {s + 1} seed {seed} done", file=sys.stderr, flush=True)
            sets.append({m["name"]: [r[m["name"]] for r in runs] for m in bench["end_to_end"]})
        raw[w] = sets
        second = sets[1] if len(sets) > 1 else sets[0]
        for name, (good, d) in metrics.agreement(sets[0], second, bench["end_to_end"]).items():
            if len(sets) == 1:
                good = name == "setup_s" or d["spread_1"] <= d["bound"]
            ok &= good
            print(f"{w:10s} {name:28s} median {d['median_1']:.6g} spread {d['spread_1']:.4f}"
                  + (f" / {d['spread_2']:.4f} worse {d['worse']:+.4f}" if len(sets) > 1 else "")
                  + f" bound {d['bound']} {'ok' if good else 'FAIL'}"
                  + (" (> bound/3)" if name != "setup_s" and max(d["spread_1"], d["spread_2"]) > d["bound"] / 3 else ""))
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", "agree.json"), "w") as f:
        json.dump(raw, f)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
