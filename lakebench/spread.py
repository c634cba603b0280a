"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median and the quartile spread (IQR / median) against its bound.

    python3 lakebench/spread.py --workload lake_reads --seeds 1-10

Exits 1 when a run fails its checks or a spread exceeds the metric's bound.
`setup_s` is exempt from the spread check, as in the benchmark contract: its
bound limits how much a later commit may slow set-up down (compare the
medians), not how much it varies from seed to seed. Its spread is still
printed. Compare two commits by running this on each and comparing the
medians.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def seeds(arg):
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    values, ok = {}, True
    for seed in args.seeds:
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], capture_output=True, text=True, cwd=HERE.parent)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            ok = False
            continue
        for name, m in json.loads(lines[-1])["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for m in bench["end_to_end"]:
        v = values.get(m["name"], [])
        if len(v) < 2:
            continue
        spread = stats.quartile_spread(v)
        within = spread <= m["bound"]
        exempt = m["name"] == "setup_s"
        ok &= within or exempt
        verdict = "ok" if within else "wide (exempt)" if exempt else "TOO WIDE"
        print(f"{m['name']:30s} median={statistics.median(v):12.4f} spread={spread:.3f} "
              f"bound={m['bound']} {verdict} n={len(v)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
