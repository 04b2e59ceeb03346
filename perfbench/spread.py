"""Steadiness check: run a workload on several seeds and report, for each
end-to-end metric, the median and the quartile spread as a share of the
median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload serve [--runs 10] [--first-seed 1]

Runs labelled contended (busy CPUs at start above perfbench.Main's limit)
are listed; they are kept in the figures unless --drop-contended is given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    info = next((json.loads(l)["run"] for l in lines if l.startswith('{"run"')), {})
    return json.loads(lines[-1]), info


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--drop-contended", action="store_true")
    a = p.parse_args(argv)
    spec = json.load(open("BENCHMARK.json"))
    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        res, info = run_once(a.workload, seed, spec["run_seconds"])
        flag = " contended" if info.get("contended") else ""
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']}{flag} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        if not (a.drop_contended and info.get("contended")):
            results.append(res)
    worst = 0.0
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med
        worst = max(worst, share / m["bound"]) if m["name"] != "setup_s" else worst
        print(f"{m['name']:>18}: median {med:.4g} {m['unit']}, spread {share:.3f} "
              f"(bound {m['bound']}, third {m['bound'] / 3:.3f})")
    print(f"largest spread as a share of its bound (setup_s aside): {worst:.2f}")


if __name__ == "__main__":
    main(sys.argv[1:])
