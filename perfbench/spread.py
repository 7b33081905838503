"""Run the benchmark once per seed on one workload and report, for every
end-to-end metric, the median and the quartile spread ((Q3 - Q1) / median)
against the metric's bound in BENCHMARK.json.

Usage (from the repository root):

    python3 perfbench/spread.py --workload pipeline_batch --seeds 1 2 3 4 5 \\
        [--save medians.json] [--baseline medians.json]

``--save`` writes the medians; ``--baseline`` compares this set's medians
with a saved set and says, per metric, whether it is worse by more than the
bound.  Runs are sequential, one JVM at a time.  Each run's output is kept
in ``perfbench/.work-spread/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--save")
    ap.add_argument("--baseline")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import stats

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out_dir = os.path.join(HERE, ".work-spread")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in args.seeds:
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        base = os.path.join(out_dir, f"{args.workload}.{seed}")
        for ext, text in (("out", proc.stdout), ("err", proc.stderr)):
            with open(f"{base}.{ext}", "w") as f:
                f.write(text)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}, see {base}.err")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k in values:
            values[k].append(row[k])

    medians = {k: stats.median(v) for k, v in values.items()}
    baseline = None
    if args.baseline:
        with open(args.baseline) as f:
            baseline = json.load(f)
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        line = f"{name:14s} median {medians[name]:10.4g} {m['unit']:5s}"
        if len(values[name]) > 1:
            spread = stats.quartile_spread(values[name])
            verdict = "steady" if spread < bound / 3 else ("within bound" if spread <= bound else "OVER BOUND")
            line += f" spread {spread:.3f} (bound {bound}: {verdict})"
        if baseline is not None:
            worse = stats.worse_by(medians[name], baseline[name], m["better"])
            ok = stats.within_bound(medians[name], baseline[name], m["better"], bound)
            line += f" vs baseline {baseline[name]:.4g}: worse by {worse:+.3f} ({'ok' if ok else 'REGRESSION'})"
        print(line)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(medians, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
